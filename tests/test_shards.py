"""Shard packing: partition invariance, budget semantics, manifest."""

import pytest
from pyspark.sql import functions as F

from sac2mseed_spark.operators.shards import pack_shards, shard_manifest

BUDGET = 50


def _docs(spark, n=120):
    # deterministic variable-length texts across two strata
    rows = [
        (i, "en" if i % 3 else "de", " ".join(f"w{j}" for j in range(1 + i % 13)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _collect(df):
    return sorted(
        (r["key"], r["stratum"], r["n_tokens"], r["shard_id"], r["shard_offset"])
        for r in df.collect()
    )


def test_partition_count_invariant(spark):
    docs = _docs(spark)
    a = _collect(pack_shards(docs, BUDGET, n_parts=2))
    b = _collect(pack_shards(docs.repartition(17), BUDGET, n_parts=9))
    assert a == b and len(a) == 120


def test_offsets_and_shard_ids_consistent(spark):
    out = pack_shards(_docs(spark), BUDGET, n_parts=5)
    rows = sorted(out.collect(), key=lambda r: (r["stratum"], r["key"]))
    # replay the sequential definition per stratum
    cum = {}
    for r in rows:
        start = cum.get(r["stratum"], 0)
        assert r["shard_id"] == start // BUDGET, r
        assert r["shard_offset"] == start % BUDGET, r
        assert 0 <= r["shard_offset"] < BUDGET
        cum[r["stratum"]] = start + r["n_tokens"]


def test_manifest_totals_and_budget(spark):
    docs = _docs(spark)
    shards = pack_shards(docs, BUDGET, n_parts=4)
    man = shard_manifest(shards).collect()
    # token conservation
    total = sum(r["n_tokens"] for r in man)
    expect = shards.agg(F.sum("n_tokens")).collect()[0][0]
    assert total == expect
    # every non-final shard of a stratum starts exactly at id*budget and
    # spans >= budget tokens (straddling doc overshoots, never undershoots)
    by_stratum = {}
    for r in man:
        by_stratum.setdefault(r["stratum"], []).append(r)
    for rows in by_stratum.values():
        rows.sort(key=lambda r: r["shard_id"])
        assert [r["shard_id"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["n_tokens"] >= 1  # non-empty
        # cumulative manifest totals reproduce shard boundaries
        cum = 0
        for r in rows[:-1]:
            cum += r["n_tokens"]
            assert cum >= (r["shard_id"] + 1) * BUDGET


def test_bad_budget_raises(spark):
    with pytest.raises(ValueError):
        pack_shards(_docs(spark), 0)


def test_cache_eviction_between_passes_is_harmless(spark):
    """The round-5 driver red row: if the cached intermediate is evicted
    between the subtotal pass and the final pass, the recompute must
    reproduce byte-identical output (partitioning is a pure function of
    the data, not of physical partition ids)."""
    docs = _docs(spark)
    expected = _collect(pack_shards(docs, BUDGET, n_parts=4))
    out = pack_shards(docs, BUDGET, n_parts=4)
    # simulate eviction of every cached block after the subtotal pass
    # (pack_shards has already collected its subtotals at this point)
    spark.catalog.clearCache()
    assert _collect(out) == expected


def test_string_keys_supported(spark):
    rows = [
        (f"id_{i:04d}", "en" if i % 3 else "de", " ".join(f"w{j}" for j in range(1 + i % 7)))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, lang string, text string")
    out = sorted(pack_shards(docs, 20, n_parts=3).collect(),
                 key=lambda r: (r["stratum"], r["key"]))
    cum = {}
    for r in out:
        start = cum.get(r["stratum"], 0)
        assert r["shard_id"] == start // 20
        assert r["shard_offset"] == start % 20
        cum[r["stratum"]] = start + r["n_tokens"]
    assert len(out) == 60


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_null_keys_sort_first(spark, key_type):
    """A NULL key sorts first in its stratum (Spark's ascending
    nulls-first order), and a stratum whose keys are all NULL still gets
    shards."""
    key = int if key_type == "long" else str
    rows = [
        (None, "en", "a b c"),
        (key(1), "en", "d e"),
        (key(2), "en", "f"),
        (None, "xx", "g h"),
    ]
    docs = spark.createDataFrame(rows, f"doc_id {key_type}, lang string, text string")
    got = {
        (r["key"], r["stratum"]): (r["n_tokens"], r["shard_id"], r["shard_offset"])
        for r in pack_shards(docs, 4, n_parts=2).collect()
    }
    assert got == {
        (None, "en"): (3, 0, 0),
        (key(1), "en"): (2, 0, 3),
        (key(2), "en"): (1, 1, 1),
        (None, "xx"): (2, 0, 0),
    }
