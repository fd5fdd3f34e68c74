"""Contract pins for the multimodal decode and synthesis stages.

Every per-payload decode stage runs through ``functions/arrow.map_decode``
and every payload synthesizer through one adapter; these tests pin the
fault-isolation rule, the output schemas and the synthesized bytes so
that the shared stage shapes cannot drift from the behaviour the
registry queries were checked against.
"""

from __future__ import annotations

import hashlib

import pytest

_MALFORMED = b"not a media payload"

# (stage, valid payload synthesizer, decoded column, drops failures,
#  output schema). The schema strings are the ones the stages emitted
# before they shared map_decode.
_META = (
    "struct<doc_id:bigint,width:int,height:int,bpp:int,mean_r:double,"
    "mean_g:double,mean_b:double,luma:double>"
)
_DECODE_CASES = [
    ("parse_wav_metadata", "wav", "rms", False,
     "struct<doc_id:bigint,sample_rate:int,n_channels:int,bits:int,"
     "n_samples:int,duration_ms:double,rms:double>"),
    ("parse_bmp_metadata", "bmp", "luma", False, _META),
    ("parse_png_metadata", "png", "luma", False, _META),
    ("parse_jpeg_metadata", "jpeg", "luma", False, _META),
    ("resize_images", "png", "payload", False,
     "struct<doc_id:bigint,payload:binary,width:int,height:int>"),
    ("resize_bmp_payloads", "bmp", "payload", False,
     "struct<doc_id:bigint,payload:binary>"),
    ("extract_features", "bmp", "features", False,
     "struct<doc_id:bigint,n_bytes:int,features:array<double>>"),
    ("image_phash", "bmp", "phash", True, "struct<doc_id:bigint,phash:string>"),
    ("audio_fingerprint", "wav", "afp", True, "struct<doc_id:bigint,afp:string>"),
    ("video_phash", "avi", "vhash", True, "struct<doc_id:bigint,vhash:string>"),
]

# resize_images emits its target size as constant columns on every row
_CONSTANT_COLUMNS = {"resize_images": {"width", "height"}}


@pytest.mark.parametrize(
    "stage,fmt,decoded,drops,schema",
    _DECODE_CASES,
    ids=[c[0] for c in _DECODE_CASES],
)
def test_decode_stage_fault_isolation(spark, stage, fmt, decoded, drops, schema):
    """A valid, a malformed and a NULL payload, spread over 6
    partitions so that some are empty: NULL-row stages keep all three
    ids with NULL outputs for the two bad payloads, drop stages keep
    only the decodable row, and neither fails its task."""
    from prisma_migrator_spark.llm import multimodal as mm

    valid = getattr(mm, f"synthesize_{fmt}")(0, "document 0 text")
    df = spark.createDataFrame(
        [(0, valid), (1, _MALFORMED), (2, None)],
        "doc_id bigint, payload binary",
    ).repartition(6)
    run = getattr(mm, stage)
    out = run(df, 8, 8) if stage == "resize_bmp_payloads" else run(df)

    assert out.schema.simpleString() == schema
    rows = {r.doc_id: r for r in out.collect()}
    if drops:
        assert sorted(rows) == [0]
    else:
        assert sorted(rows) == [0, 1, 2]
        assert rows[1][decoded] is None
        keep = _CONSTANT_COLUMNS.get(stage, set()) | {"doc_id"}
        assert all(
            v is None for k, v in rows[2].asDict().items() if k not in keep
        ), rows[2]
    assert rows[0][decoded] is not None


def _digest(payloads) -> str:
    return hashlib.sha256(
        b"".join(hashlib.sha256(bytes(p)).digest() for p in payloads)
    ).hexdigest()


# sha256 over the per-payload sha256 digests for doc_id 0-7, recorded
# from the synthesizers before they shared one pixel recipe, one WAV
# writer and one synthesis stage.
_SYNTHESIZE_DIGESTS = {
    "wav": "4d5467433f4dc1cee85b1c65ef2f6f04608b1f105dd5da17714fed55e71033ca",
    "bmp": "e83955a0b3c9351d0880a17d3c066c333754207c72c96a95b12e12d4ee27f825",
    "png": "4e8cf6edf5af543672295089f0108019262f38b91fae2856b9e02a390e59dcc2",
    "jpeg": "a45257a8ebf62da25faf5f779409f4be04830067e74e3e7d49474a95a1fec162",
    "avi": "f3db42020ad1edb9eb4a6cd9b7c1e44af25bdda1f0313ddc91fda7e1896c903f",
}
_ATTACH_DIGESTS = {
    "wav": "9ae2ea9e28e7ab6d5e8d61a6790ba710bd9c1f0c86d40ebf8b78111bda8bd38f",
    "bmp": "39c93244eb3886c7da3f8bf3869c93da4f6a11cc81cfc6bd4a4b3be0fceaeb14",
    "png": "f8dd54113c044263c5adc67b254e994b8313f8bc4d374bfe1e55b3d5a5c189ba",
    "jpeg": "3440a070fb0fbc7c7d63087122ec6c9ff79e08ed2b4c6a50115d3b0f52edb7ef",
    "avi": "e0aaea7f0d9671c794eed89d464da71248e26d2584662e24e33d0efdcfbf58bd",
    "image_variant": "907fcaa6bc7e7b37b11b15453e0b75c1c0c94babc428ca6a4e1e4e3e4b8ba8f6",
    "audio_variant": "16ef9519cc74f6742242ed218db2d0b9a234bf6274337293483ec1204aee2e59",
    "video_variant": "b1e2fc2824950e4057e243bd73deb31d2b8b4c91876f2e437490a45bca9bc94d",
}


@pytest.mark.parametrize("fmt", sorted(_SYNTHESIZE_DIGESTS))
def test_synthesize_bytes_pinned(fmt):
    from prisma_migrator_spark.llm import multimodal as mm

    synth = getattr(mm, f"synthesize_{fmt}")
    got = _digest(synth(i, f"document {i} text") for i in range(8))
    assert got == _SYNTHESIZE_DIGESTS[fmt]


def test_attach_payload_bytes_pinned(spark):
    """All eight attach stages, including a NULL text (doc 5), emit
    ``(doc_id bigint, payload binary)`` with the recorded bytes."""
    from prisma_migrator_spark.llm import multimodal as mm

    df = spark.createDataFrame(
        [(i, None if i == 5 else f"document {i} text") for i in range(8)],
        "doc_id bigint, text string",
    )
    for name, want in _ATTACH_DIGESTS.items():
        out = getattr(mm, f"attach_{name}_payload")(df)
        assert out.schema.simpleString() == "struct<doc_id:bigint,payload:binary>"
        got = sorted((r.doc_id, bytes(r.payload)) for r in out.collect())
        assert [i for i, _ in got] == list(range(8)), name
        assert _digest(p for _, p in got) == want, name
