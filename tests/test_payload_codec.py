"""Payload-codec matrix (grenad src/compression.rs:231-247 round-trip port):
a zlib-compressed index must return results identical to the uncompressed
one, through both search modes and compaction."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from grenad_spark.functions.varbyte import (
    PAYLOAD_CODECS,
    compress_payload,
    decompress_payload,
)
from grenad_spark.index.build import build_index
from grenad_spark.query.bm25 import REFERENCE_QUERIES
from grenad_spark.query.search import search_topk


@given(st.binary(max_size=5000), st.sampled_from(PAYLOAD_CODECS))
@settings(max_examples=60, deadline=None)
def test_codec_roundtrip(data, codec):
    assert decompress_payload(compress_payload(data, codec), codec) == data


# WriterBuilder::compression_level (src/writer.rs:46-52) as a "name:level"
# codec string — every levelled variant must round-trip bit-exact, since
# decompression is level-agnostic across the whole matrix.
_LEVELLED = ["zlib:1", "zlib:9", "zstd:1", "zstd:19", "zstd:-5", "lz4:1",
             "lz4:12", "snappy:3", "none:0"]


@given(st.binary(max_size=5000), st.sampled_from(_LEVELLED))
@settings(max_examples=60, deadline=None)
def test_codec_level_roundtrip(data, codec):
    assert decompress_payload(compress_payload(data, codec), codec) == data


def test_codec_level_parsing_and_effect():
    import pytest

    from grenad_spark.errors import InvalidCompressionType
    from grenad_spark.functions.varbyte import split_codec

    assert split_codec("zstd:19") == ("zstd", 19)
    assert split_codec("zstd") == ("zstd", None)
    with pytest.raises(InvalidCompressionType):
        split_codec("zstd:fast")
    with pytest.raises(InvalidCompressionType):
        split_codec("rot13:9")
    # zlib level 0 is stored (no compression) — must be strictly larger than
    # level 9 on compressible data, proving the level actually reaches the
    # compressor (flate2 Compression::new(level) parity, compression.rs:113)
    data = bytes(range(256)) * 200
    assert len(compress_payload(data, "zlib:0")) > len(
        compress_payload(data, "zlib:9")
    )


def test_zlib_index_rank_identical(spark, docs_small, index_small, tmp_path):
    zidx = build_index(
        spark, docs_small, str(tmp_path / "z"), n_shards=3, payload_codec="zlib"
    )
    assert zidx.payload_codec == "zlib"

    def norm(df):
        return sorted(map(tuple, df.toPandas().values.tolist()))

    for mode in ("exhaustive", "wand"):
        a = norm(search_topk(spark, index_small, REFERENCE_QUERIES, mode=mode))
        b = norm(search_topk(spark, zidx, REFERENCE_QUERIES, mode=mode))
        assert a == b, mode


def test_compression_level_knob_end_to_end(spark, docs_small, index_small, tmp_path):
    """payload_codec_level composes into the manifest codec string and the
    levelled index ranks identically to the uncompressed one."""
    import pytest

    lidx = build_index(
        spark, docs_small, str(tmp_path / "l19"), n_shards=3,
        payload_codec="zstd", payload_codec_level=19,
    )
    assert lidx.payload_codec == "zstd:19"
    assert lidx.manifest["payload_codec"] == "zstd:19"

    def norm(df):
        return sorted(map(tuple, df.toPandas().values.tolist()))

    a = norm(search_topk(spark, index_small, REFERENCE_QUERIES, mode="wand"))
    b = norm(search_topk(spark, lidx, REFERENCE_QUERIES, mode="wand"))
    assert a == b

    with pytest.raises(ValueError, match="not both"):
        build_index(
            spark, docs_small, str(tmp_path / "dup"), payload_codec="zstd:3",
            payload_codec_level=19,
        )
