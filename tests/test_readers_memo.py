"""Reader memo + spread-repartition contracts (round 13).

Pins the three properties VERDICT/ADVICE r12 flagged:
  1. the lazy-plan memo must invalidate when the file is rewritten
     (VERDICT r12 item 10 — a stale plan handle would silently serve
     the OLD table after a scratch-table rewrite);
  2. the memo is bounded (ADVICE: it was an unbounded dict holding
     strong session refs);
  3. the under-split spread repartition derives its partition count
     from the input size, not the core count, and the byte-suffix
     conf parser understands Spark's k/m/g forms (ADVICE).
"""

import os
import time

import pytest

from demv_spark.sources import readers


@pytest.fixture()
def tmp_table(spark, tmp_path):
    """Write a tiny one-column parquet 'documents' table and return
    (sf_dir, rewrite) where rewrite(values) overwrites it."""
    sf_dir = str(tmp_path)

    def rewrite(values):
        spark.createDataFrame(
            [(int(v),) for v in values], "doc_id long"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf_dir}/documents.parquet"
        )

    rewrite([1, 2, 3])
    return sf_dir, rewrite


def test_memo_invalidates_on_rewrite(spark, tmp_table):
    sf_dir, rewrite = tmp_table
    first = sorted(
        r["doc_id"]
        for r in readers.read_table(spark, sf_dir, "documents").collect()
    )
    assert first == [1, 2, 3]
    # mtime granularity: make sure the rewrite is observably newer
    time.sleep(0.05)
    rewrite([7, 8, 9, 10])
    second = sorted(
        r["doc_id"]
        for r in readers.read_table(spark, sf_dir, "documents").collect()
    )
    assert second == [7, 8, 9, 10], "stale plan served after rewrite"


def test_memo_is_bounded(spark, tmp_table):
    sf_dir, _ = tmp_table
    readers._PLAN_CACHE.clear()
    path = os.path.abspath(f"{sf_dir}/documents.parquet")
    st = os.stat(path)
    # flood the memo with synthetic same-session keys
    for i in range(2, readers._PLAN_CACHE_MAX + 12):
        readers._PLAN_CACHE[(id(spark), path, st.st_mtime, st.st_size, i)] = (
            spark,
            None,
        )
        if len(readers._PLAN_CACHE) > readers._PLAN_CACHE_MAX:
            break
    readers.read_table(spark, sf_dir, "documents")
    assert len(readers._PLAN_CACHE) <= readers._PLAN_CACHE_MAX
    readers._PLAN_CACHE.clear()


def test_spread_target_scales_with_size(spark, tmp_table, monkeypatch):
    sf_dir, _ = tmp_table
    path = f"{sf_dir}/documents.parquet"
    monkeypatch.setattr(readers, "SPREAD_SPLIT_BYTES", 1024)
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", ".")) and not f.endswith(".crc")
    )
    want = max(2, min(64, -(-size // 1024)))
    assert readers._spread_target(path, 64) == want
    # clamped by parallelism
    assert readers._spread_target(path, 2) == 2


def test_conf_bytes_parses_suffixes(spark):
    orig = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    key = "spark.sql.files.maxPartitionBytes"
    try:
        for raw, want in [
            ("128m", 128 * 1024**2),
            ("1g", 1024**3),
            ("134217728b", 134217728),
            ("512k", 512 * 1024),
            ("134217728", 134217728),
        ]:
            spark.conf.set(key, raw)
            assert readers._conf_bytes(spark, key, -1) == want, raw

        # a fractional size never reaches the parser: the set itself
        # is rejected
        from pyspark.errors import IllegalArgumentException

        with pytest.raises(IllegalArgumentException, match="INVALID_CONF_VALUE"):
            spark.conf.set(key, "1.5g")

        # malformed values can't pass spark.conf.set validation; pin
        # the parser's fallback through a stub session instead
        class _Stub:
            class conf:
                @staticmethod
                def get(key, default=None):
                    return "not-a-size"

        assert readers._conf_bytes(_Stub, "whatever", 42) == 42
    finally:
        if orig is not None:
            spark.conf.set(key, orig)
        else:
            spark.conf.unset(key)
