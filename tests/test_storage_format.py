"""Storage format of the tables the engine writes: every column chunk of
every parquet file is zstd-compressed (sinks/tier_tables.table_writer),
whichever writer produced it, and a batch tier write stays within its
stored-bytes budget."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sac2mseed_spark import TIERS
from sac2mseed_spark.functions.metrics import derive_turn_metrics, ts_us_col
from sac2mseed_spark.operators.pack import pack_tier
from sac2mseed_spark.operators.rollup import rollup_cascade
from sac2mseed_spark.plans.pipeline import IncrementalRollup
from sac2mseed_spark.sinks.tier_tables import write_tier
from sac2mseed_spark.sources.transcripts import generate_transcripts
from sac2mseed_spark.streaming.rollup_stream import route_ooo_to_pending

# snapshot 3 arrives late, so the commits flag conversations for heal()
OOO_BOUNDS = [(0, 20), (40, 60), (20, 40), (60, 10_000)]
# bytes of the t_small (seed 42) batch write below in 40 files, measured
# with zstd: 206,141 on each of 3 runs. SNAPPY wrote 216,919, over the
# 5 % slack: at this size the footers weigh more than the column data.
BATCH_WRITE_BYTES = 206_141


def _chunk_codecs(root: str) -> dict[str, set[str]]:
    """{parquet file under ``root``: codecs of its column chunks}."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                path = os.path.join(dirpath, n)
                md = pq.ParquetFile(path).metadata
                out[os.path.relpath(path, root)] = {
                    md.row_group(i).column(j).compression
                    for i in range(md.num_row_groups)
                    for j in range(md.num_columns)
                }
    return out


def _assert_zstd(root: str) -> set[str]:
    """Every column chunk under ``root`` is ZSTD; returns the top-level
    dirs (table families) holding a file with data."""
    codecs = _chunk_codecs(root)
    bad = {f: c for f, c in codecs.items() if c - {"ZSTD"}}
    assert not bad, bad
    return {f.split(os.sep)[0] for f, c in codecs.items() if c}


def _stored_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
        if not n.startswith((".", "_"))
    )


@pytest.fixture(scope="module")
def batch_store(spark, tmp_path_factory):
    """The batch path's tables of t_small: every aggregate tier and the 1m
    and 1h packed tiers, written by write_tier (packed 1h z-ordered)."""
    out = str(tmp_path_factory.mktemp("batch"))
    m = derive_turn_metrics(generate_transcripts(spark, "t_small", seed=42)).persist()
    tiers = rollup_cascade(m)
    for t in TIERS:
        write_tier(tiers[t], os.path.join(out, "tiers"))
    write_tier(pack_tier(m, "1m"), os.path.join(out, "packed"))
    write_tier(pack_tier(m, "1h"), os.path.join(out, "packed"), zorder=True)
    m.unpersist()
    return out


def test_batch_write_tier_is_zstd(batch_store):
    assert _assert_zstd(batch_store) == {"tiers", "packed"}


def test_batch_write_stored_bytes_budget(batch_store):
    got = _stored_bytes(batch_store)
    assert got <= BATCH_WRITE_BYTES * 1.05, got


def test_every_engine_table_is_zstd(spark, tmp_path):
    """Each table family after the commits (out-of-order ones among them),
    a heal, a retention sweep and a compaction, plus the ``metrics/``
    and ``retention/`` tables and the streaming path's heal flags."""
    src = tmp_path / "src"
    t = generate_transcripts(spark, "t_small", seed=42)
    for i, (lo, hi) in enumerate(OOO_BOUNDS, start=1):
        part = t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
        part.write.mode("overwrite").parquet(str(src / f"snap_{i:08d}"))
    work = str(tmp_path / "w")
    inc = IncrementalRollup(spark, str(src), work, pack_tiers=("1m", "1h"))
    assert inc.process_pending() == len(OOO_BOUNDS)
    assert _assert_zstd(work) == {"state", "tiers", "packed", "heal_pending", "metrics"}
    assert inc.heal() > 0
    healed = [
        os.path.join(work, f, f"d{len(OOO_BOUNDS):08d}h")
        for f in ("state", "tiers", "packed")
    ]
    for d in healed:
        assert os.path.isdir(d) and _chunk_codecs(d), d
    _assert_zstd(work)
    now_us = t.agg(F.max(ts_us_col("ts"))).collect()[0][0]
    inc.apply_retention(now_us)
    inc.compact()
    assert _assert_zstd(work) == {"state", "tiers", "packed", "metrics", "retention"}
    flags = spark.createDataFrame([("conv_x", True)], "conv_id string, ooo boolean")
    assert route_ooo_to_pending(flags, work) == 1
    assert "heal_pending" in _assert_zstd(work)
