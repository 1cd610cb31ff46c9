"""Focused tests for the r13 library-semantics hardening:

- ``pin_frame`` scopes its one-slot pin registry per SparkSession, so a
  pin on one session can never unpersist a frame pinned on another.
- ``_sql_json_arr`` refuses payloads that would break out of the
  single-quoted SQL string it is spliced into.
- the JPEG Huffman LUT cache is bounded (LRU), so distinct per-image
  tables cannot grow worker memory without limit.
"""

from __future__ import annotations

import pytest


def test_pin_frame_is_per_session(spark):
    from pos_dlt_spark.operators import dedup

    a = spark.range(10)
    pinned_a = dedup.pin_frame(a)
    assert pinned_a.storageLevel.useMemory

    other = spark.newSession()
    try:
        pinned_b = dedup.pin_frame(other.range(5))
        # the second session's pin must NOT have evicted the first's
        assert pinned_a.storageLevel.useMemory
        assert pinned_b.storageLevel.useMemory
        # a second pin on the FIRST session still supersedes within it
        pinned_a2 = dedup.pin_frame(spark.range(3))
        assert pinned_a2.storageLevel.useMemory
        assert not pinned_a.storageLevel.useMemory
        assert pinned_b.storageLevel.useMemory
    finally:
        for key in list(dedup._PINNED_FRAMES):
            for f in dedup._PINNED_FRAMES.pop(key):
                f.unpersist(blocking=False)


def test_sql_json_arr_rejects_quotes():
    from pos_dlt_spark.operators.similarity import _sql_json_arr

    assert "from_json" in _sql_json_arr([[1, 2], [3, 4]], "array<array<bigint>>")
    for bad in ["a'b", "a\\b"]:
        with pytest.raises(ValueError):
            _sql_json_arr([bad], "array<string>")


def test_huff_lut_cache_bounded():
    from pos_dlt_spark.operators import multimodal as mm

    mm._HUFF_LUT_CACHE.clear()
    # synthesize > max distinct (bits, vals) tables: one 1-bit code each
    for i in range(mm._HUFF_LUT_MAX + 4):
        bits = [1] + [0] * 15
        mm._huff_lut(bits, [i])
    assert len(mm._HUFF_LUT_CACHE) == mm._HUFF_LUT_MAX
    # LRU: the most recent entry is retained and served from cache
    lut = mm._huff_lut([1] + [0] * 15, [mm._HUFF_LUT_MAX + 3])
    assert lut[0] >> 16 == 1
    mm._HUFF_LUT_CACHE.clear()
