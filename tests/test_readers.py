"""Source-reader helpers: byte-size conf parsing, the leaf scan-size
estimate, and the ``spread`` small-file width guard."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_conf_bytes_parses_size_strings(spark):
    from dbt_fal_spark.sources.readers import conf_bytes

    key = "spark.dbt_fal.test.bytes"
    for raw, want in [
        ("134217728", 134217728),
        ("128m", 134217728),
        ("128M", 134217728),
        ("128mb", 134217728),
        ("1g", 1 << 30),
        ("512k", 512 << 10),
        ("7", 7),
    ]:
        spark.conf.set(key, raw)
        assert conf_bytes(spark, key, 1) == want, raw
    # unparseable value falls back to the caller's default, visibly
    spark.conf.set(key, "lots")
    assert conf_bytes(spark, key, 42) == 42
    spark.conf.unset(key)
    # unset key -> default
    assert conf_bytes(spark, key, 99) == 99


def test_scan_bytes_is_projection_invariant(spark):
    """ADVICE r16 item 2: a narrow projection of a wide text table must
    NOT shrink the probe's estimate (the projected-plan stats scaled
    text columns to a 20-byte schema default; the leaf stats are the
    file bytes split planning actually divides)."""
    from dbt_fal_spark.sources.readers import load_table, scan_bytes

    docs = load_table(spark, SF_DIR, "documents")
    full = scan_bytes(docs)
    proj = scan_bytes(docs.select("doc_id", "text"))
    assert full is not None and full > 0
    assert proj == full


def test_spread_widens_small_scans(spark):
    from dbt_fal_spark.sources.readers import load_table, spread

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = spread(docs)
    # sf0.001 scans are far below 8 x maxPartitionBytes: widened to 8
    assert out.rdd.getNumPartitions() == min(8, spark.sparkContext.defaultParallelism)


def test_spread_noops_above_size_cutoff(spark):
    from dbt_fal_spark.sources.readers import load_table, spread

    prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # shrink the cutoff below the file size: a "big" scan must pass
        # through un-repartitioned (the at-scale no-op path)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        out = spread(docs)
        assert out is docs  # identity: no repartition node added
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prior)


def test_spread_results_unchanged_by_probe(spark):
    # the probe only picks a width; the downstream values must be
    # partitioning-independent — exact dedup through spread-fed minhash
    from dbt_fal_spark.operators.dedup import d_minhash_lsh_pairs

    rows = {tuple(r) for r in d_minhash_lsh_pairs(spark, SF_DIR).collect()}
    assert len(rows) > 0  # sf0.001 has known near-dup pairs
