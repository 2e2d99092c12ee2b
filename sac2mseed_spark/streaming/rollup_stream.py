"""Structured Streaming tier maintenance.

The reference's pipeline is genuinely streaming under the hood: records
arrive, merge into per-key state, and flush as complete records
(StreamState, /root/reference/libmseed/libmseed.h:458-465; flush semantics
pack.c:337). Spark mapping (SURVEY.md §2.9):

  * tumbling fixed-epoch windows  <- fixed-reclen records
  * watermark + append output     <- flush of completed records
  * late/out-of-order rows        <- mstl_addmsr insertion / heal
    (handled by the watermark: rows later than the allowed lateness are
    dropped from the stream path and belong to the batch backfill)

The streaming aggregate (stream_rollup) emits a fixed subset of the tier
statistics in operators/rollup.TIER_STATS: n_points, sum_tokens,
min_ts_us and max_ts_us, each the TIER_STATS merge of its per-turn value
— the batch definitions, not a second declaration. It has
no latency statistics (stream_turn_metrics derives no latency), so those
four columns are bit-compatible with a batch recompute, but a streaming
1m tier is not a full tier table that rollup_from_tier can cascade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.rollup import TIER_STATS
from ..sinks.tier_tables import table_writer

# the tier statistics stream_rollup keeps, in TIER_STATS order
_STREAM_STATS = ("n_points", "sum_tokens", "min_ts_us", "max_ts_us")
_TIER_INTERVAL = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def stream_turn_metrics(transcripts: DataFrame) -> DataFrame:
    """Per-turn metric derivation for a streaming transcripts source.

    Streams cannot use unbounded window functions (lag over conv_id), so
    latency is carried by the packer/rollup at read time; the streaming
    path derives the stateless metrics (token_count, text_len, ts_us) and
    leaves latency to the batch backfill — mirroring how the reference
    computes inter-record gaps only when a trace is assembled, not on
    ingest (traceutils.c:300-334).
    """
    from ..functions.metrics import token_count_col, ts_us_col

    return (
        transcripts.withColumn("ts_us", ts_us_col("ts"))
        .withColumn("token_count", token_count_col().cast("long"))
        .withColumn("text_len", F.length("text").cast("long"))
    )


def stream_metrics_stateful(transcripts: DataFrame) -> DataFrame:
    """Per-turn metrics WITH cross-batch latency via applyInPandasWithState.

    The literal StreamState analogue (libmseed.h:458-465 / pack.c:
    1003-1039): per conv_id the state carries (last_turn_idx, last_ts_us)
    so the first turn of a conversation's continuation in a later
    micro-batch still gets its true inter-turn latency — the streaming
    twin of plans/pipeline's carried conv-state.

    The fast path assumes append-ordered delivery per conversation; a
    violation (this micro-batch's min turn_idx at or before the carried
    last_turn_idx — the same predicate as the batch path's detector,
    plans/pipeline._process_one) does NOT silently corrupt: the group's
    rows are emitted with ``ooo = true``, and ``route_ooo_to_pending``
    (or any foreachBatch sink) hands those conversations to the batch
    ``heal()`` pass — the streaming twin of the reference's
    mstl_addmsr-out-of-order -> mst_groupheal flow (tracelist.c:392-556,
    traceutils.c:776-915).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, turn_idx int, ts_us long, latency_us long,"
        " token_count long, ooo boolean"
    )
    state_schema = "last_turn_idx long, last_ts_us long"

    def fn(key, pdfs, state: GroupState):
        conv_id = key[0]
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["turn_idx", "ts"], kind="mergesort"
        )
        ts_us = (pdf["ts"].astype("datetime64[us]").astype("int64")).to_numpy()
        lat = ts_us.astype("object")
        lat[1:] = ts_us[1:] - ts_us[:-1]
        ooo = False
        if state.exists:
            last_turn, last_ts = state.get
            lat[0] = int(ts_us[0]) - last_ts
            ooo = int(pdf["turn_idx"].iloc[0]) <= last_turn
        else:
            lat[0] = None
        tok = [len(t.split()) if isinstance(t, str) else 0 for t in pdf["text"]]
        state.update(
            (
                max(int(pdf["turn_idx"].iloc[-1]),
                    last_turn if state.exists else -1),
                max(int(ts_us[-1]), last_ts if state.exists else -(1 << 62)),
            )
        )
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "turn_idx": pdf["turn_idx"].to_numpy(),
                "ts_us": ts_us,
                "latency_us": lat,
                "token_count": tok,
                "ooo": ooo,
            }
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def route_ooo_to_pending(metrics_batch: DataFrame, work_dir: str) -> int:
    """Hand a micro-batch's out-of-order conversations to the batch heal
    pass: append their conv_ids under ``{work_dir}/heal_pending/`` where
    ``IncrementalRollup.heal()`` picks them up (its deletion protocol
    reads EVERY pending dir, so flags routed at an already-healed
    version are never dropped). Returns the number flagged.

    The pending dir is keyed by the pipeline's current committed version
    (or 1 before any commit) and written in append mode: replayed
    micro-batches at-least-once-append duplicates, which heal's left-semi
    join absorbs — same idempotence story as the snapshot path.
    """
    import os

    from ..plans.pipeline import IncrementalRollup

    flagged = metrics_batch.filter(F.col("ooo")).select("conv_id").distinct()
    n = flagged.count()
    if n == 0:
        return 0
    inc = IncrementalRollup(metrics_batch.sparkSession, "/nonexistent", work_dir)
    v = max(inc._read_ckpt()["version"], 1)
    table_writer(flagged).mode("append").parquet(
        os.path.join(work_dir, "heal_pending", f"d{v:08d}")
    )
    return n


def stateful_metrics_sink(
    metrics_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    work_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Sink for ``stream_metrics_stateful`` output: append the metric
    rows to parquet AND, when ``work_dir`` names an IncrementalRollup
    store, route each micro-batch's ``ooo``-flagged conversations into
    its ``heal_pending/`` (route_ooo_to_pending) so the next ``heal()``
    repairs them to batch parity — closing the streaming path's
    out-of-order story instead of documenting a precondition."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        table_writer(batch_df).mode("append").parquet(out_path)
        if work_dir is not None:
            route_ooo_to_pending(batch_df, work_dir)
        batch_df.unpersist()

    w = (
        metrics_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_rollup(
    metrics: DataFrame, tier: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming tier aggregate: tumbling window per conv_id with watermark.

    Output (append mode) rows are FINAL per window — the watermark is the
    flush: once event time passes window end + lateness, the window emits
    exactly once, like the reference emitting a record when it reaches
    capacity (pack.c:314-337).
    """
    interval = _TIER_INTERVAL[tier]
    ts = F.col("ts").cast("timestamp")
    return (
        metrics.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", interval).alias("win"))
        .agg(
            *[
                merge(turn()).alias(c)
                for c, turn, merge in TIER_STATS
                if c in _STREAM_STATS
            ]
        )
        .select(
            "conv_id",
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            *_STREAM_STATS,
            F.lit(tier).alias("tier"),
        )
    )


def stream_sessionize(
    metrics: DataFrame, gap_us: int | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming session windows per conv_id (session_window built-in) —
    the streaming analogue of operators/sessionize (tolerance-gap segment
    formation, tracelist.c:135-606)."""
    from ..operators.sessionize import DEFAULT_GAP_TOLERANCE_US

    gap_us = gap_us or DEFAULT_GAP_TOLERANCE_US
    gap_expr = f"{gap_us // 1_000_000} seconds"
    ts = F.col("ts").cast("timestamp")
    return (
        metrics.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap_expr).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("token_count").alias("sum_tokens"),
            F.min("ts_us").alias("seg_start_us"),
            F.max("ts_us").alias("seg_end_us"),
        )
        .select(
            "conv_id", "seg_start_us", "seg_end_us", "n_turns", "sum_tokens"
        )
    )


def incremental_sink(
    transcripts_stream: DataFrame,
    snapshot_dir: str,
    work_dir: str,
    checkpoint: str,
    pack_tiers: tuple[str, ...] = ("1m",),
    trigger_available_now: bool = True,
):
    """Streaming PACKED sink: every micro-batch lands as an append
    snapshot and the incremental pipeline (plans/pipeline.py) rolls it
    into the aggregate AND packed tiers — the streaming record_handler
    analogue (/root/reference/src/sac2mseed.c:1437-1444): each arriving
    span of turns is immediately re-emitted as finished records.

    No watermark gating is needed for byte parity: a window that grows in
    a later batch is simply re-encoded by the touched-window maintenance,
    so at every committed batch the packed tier is byte-identical to a
    batch pack_tier over everything ingested so far (tests assert).

    Exactly-once: foreachBatch is at-least-once per batch_id; the
    snapshot dir write is an idempotent overwrite keyed by batch_id and
    process_pending() skips versions at-or-below the pipeline checkpoint,
    so a replayed batch cannot double-count (same protocol as a crashed
    batch job, pipeline.py module doc).
    """
    import os

    from ..plans.pipeline import IncrementalRollup

    os.makedirs(snapshot_dir, exist_ok=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        path = os.path.join(snapshot_dir, f"snap_{batch_id + 1:08d}")
        table_writer(batch_df).mode("overwrite").parquet(path)
        IncrementalRollup(
            batch_df.sparkSession, snapshot_dir, work_dir, pack_tiers
        ).process_pending()

    w = (
        transcripts_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def tier_sink(
    tier_stream: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Append-mode parquet sink with a checkpoint (exactly-once per window
    given the watermark finalization; the checkpoint directory is the
    resume token, the readStream offset log the fpos analogue —
    fileutils.c:367-384)."""
    w = (
        tier_stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_burst_detect(
    transcripts: DataFrame,
    window_us: int = 86_400_000_000,
    min_events: int = 6,
) -> DataFrame:
    """Streaming twin of operators/rate.bursts via applyInPandasWithState.

    Per conv_id the state carries the trailing-window timestamps (pruned
    to [max_ts - window_us, max_ts], so state size is bounded by the
    burst density x window, never conversation length). Each micro-batch
    recomputes trailing counts with searchsorted over state + batch
    timestamps: n(ts) = |events in [ts - window_us, ts]| (closed both
    ends) including equal-timestamp PEERS that arrive in the same batch
    — the exact RANGE-frame semantics of the batch operator, so on
    append-ordered delivery
    the emitted rows equal ``bursts()`` over the same data
    (tests/test_streaming.py asserts set equality vs batch).

    Late rows that time-travel behind the carried horizon would
    under-count; like stream_metrics_stateful, such conversations belong
    to the batch heal path — the detector here only ever sees appends.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if window_us <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    if min_events < 1:
        raise ValueError(f"min_events must be >= 1, got {min_events}")

    out_schema = "conv_id string, ts_us long, n_in_window long"
    state_schema = "recent array<long>"

    def fn(key, pdfs, state: GroupState):
        conv_id = key[0]
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        batch_ts = np.sort(
            np.concatenate([p["ts_us"].to_numpy(np.int64) for p in parts])
        )
        prior = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        all_ts = np.concatenate([prior, batch_ts])
        all_ts.sort(kind="stable")
        # n(ts) over [ts - window_us, ts] — closed both ends, peers
        # included (matches rangeBetween(-window_us, 0))
        hi = np.searchsorted(all_ts, batch_ts, side="right")
        lo = np.searchsorted(all_ts, batch_ts - window_us, side="left")
        n = hi - lo
        horizon = int(all_ts[-1]) - window_us
        state.update((all_ts[all_ts >= horizon].tolist(),))
        keep = n >= min_events
        if keep.any():
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "ts_us": batch_ts[keep],
                    "n_in_window": n[keep],
                }
            )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_zscore_anomalies(
    tier_stream: DataFrame,
    k: int = 12,
    tau: float = 3.0,
    value_col: str = "sum_tokens",
) -> DataFrame:
    """Streaming twin of operators/anomaly.zscore_anomalies.

    Consumes a stream of FINALIZED tier rows (conv_id, window_start_us,
    value) — e.g. the append-mode output of the watermarked tier
    aggregate — and scores each window against the mean/std of the
    previous k observed windows of its conversation, exactly the batch
    operator's ROWS(-k, -1) frame. Per conv_id the state carries only
    the last k integer values (bounded, independent of conversation
    length); trailing sums come from one padded cumsum over
    state+batch, so the kernel is vectorized across the micro-batch
    (no per-row Python).

    The integer trailing sums match the batch operator exactly; the
    derived mean/var/z use the same canonical float expression in
    float64, so on append-ordered delivery the emitted set equals the
    batch operator's (tests assert; z here is UNROUNDED — the batch
    query applies 6dp presentation rounding on top). Out-of-order
    windows belong to the batch heal path, like every stateful
    operator in this module.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    out_schema = "conv_id string, window_start_us long, value long, z double"
    state_schema = "recent array<long>"

    def fn(key, pdfs, state: GroupState):
        conv_id = key[0]
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            "window_start_us", kind="mergesort"
        )
        vals = pdf[value_col].to_numpy(np.int64)
        wins = pdf["window_start_us"].to_numpy(np.int64)
        prior = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        allv = np.concatenate([prior, vals])
        cs = np.concatenate([[0], np.cumsum(allv)])
        css = np.concatenate([[0], np.cumsum(allv * allv)])
        g = np.arange(len(prior), len(allv))
        have = g >= k
        state.update((allv[-k:].tolist(),))
        if not have.any():
            return
        gi = g[have]
        s = (cs[gi] - cs[gi - k]).astype(np.float64)
        ss = (css[gi] - css[gi - k]).astype(np.float64)
        # canonical expression shape of the batch operator:
        # mean = s/k; var = ss/k - mean^2; z = (v - mean)/sqrt(var)
        mean = s / float(k)
        var = ss / float(k) - mean * mean
        with np.errstate(invalid="ignore", divide="ignore"):
            z = (allv[gi].astype(np.float64) - mean) / np.sqrt(var)
        keep = (var > 0) & (np.abs(z) >= tau)
        if keep.any():
            sel = np.zeros(len(vals), dtype=bool)
            sel[have] = keep
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "window_start_us": wins[sel],
                    "value": vals[sel],
                    "z": z[keep],
                }
            )

    return tier_stream.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_funnel(
    turns: DataFrame,
    steps: tuple = ("user", "tool", "assistant"),
) -> DataFrame:
    """Streaming twin of operators/funnel.funnel_steps.

    Per conv_id the state is just the first-completion timestamp of
    each step — len(steps) longs, independent of conversation length.
    Each micro-batch advances the step machine with vectorized
    conditional minima (the batch operator's min-after-min, evaluated
    over state + batch): a step k completes at the smallest batch
    ts with role == steps[k] strictly after t_{k-1}.

    On append-ordered delivery (ts monotone across batches) this
    equals the batch funnel exactly: any turn that could complete
    step k arrives no earlier than the batch that set t_{k-1}, so
    dropping previous batches loses no candidates (tests assert the
    last emitted row per conv equals funnel_steps). Out-of-order
    delivery belongs to the batch heal path, like every stateful
    operator in this module.

    Emits a row per conv per micro-batch IN WHICH ITS STATE ADVANCED
    (append mode) — downstream keeps the max-steps_completed row per
    conv, or treats the stream as a funnel-progress event log.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if len(steps) < 2:
        raise ValueError(f"need >= 2 steps, got {list(steps)}")
    n_steps = len(steps)

    t_cols = ", ".join(f"t{i}_us long" for i in range(1, n_steps + 1))
    out_schema = f"conv_id string, {t_cols}, steps_completed int"
    state_schema = ", ".join(f"t{i} long" for i in range(1, n_steps + 1))

    def fn(key, pdfs, state: GroupState):
        conv_id = key[0]
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        roles = pdf["role"]
        ts = pdf["ts_us"]
        t = list(state.get) if state.exists else [None] * n_steps
        changed = False
        for k in range(n_steps):
            if t[k] is not None:
                continue
            cand = ts[roles == steps[k]]
            if k > 0:
                cand = cand[cand > t[k - 1]]
            if len(cand) == 0:
                break
            t[k] = int(cand.min())
            changed = True
        state.update(tuple(t))
        if changed:
            done = sum(1 for x in t if x is not None)
            row = {"conv_id": conv_id}
            row.update(
                {f"t{i + 1}_us": t[i] for i in range(n_steps)}
            )
            row["steps_completed"] = done
            yield pd.DataFrame([row])

    return turns.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_repetition(
    transcripts: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Streaming twin of operators/repetition.repetition_loops, at pair
    granularity: a live degenerate-loop monitor that scores every
    arriving turn against the PREVIOUS turn of the same (conv, role).

    Token sets are digested JVM-side before the stateful step — the
    state and the wire carry only sorted 60-bit digest arrays (identical
    to the batch operator's term_h universe), never text. Per (conv_id,
    role) the state is one previous digest set plus its rank: bounded by
    a single turn's vocabulary, independent of conversation length.

    Emits one row per consecutive pair with the SAME integer
    intersection/union the batch operator computes; jacc is the raw
    IEEE quotient (the batch query applies 6dp HALF_UP presentation
    rounding on top — same contract as stream_zscore_anomalies, since
    Python round() is half-even and would diverge on exact ties). On
    append-ordered delivery the emitted pair log aggregates exactly to
    repetition_loops' (n_pairs, n_repeats) — tests assert. Out-of-order
    turns belong to the batch heal path, like every stateful operator
    in this module.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    from ..functions.hashing import h60
    from ..functions.text import ws_tokens

    digested = transcripts.select(
        "conv_id",
        "role",
        "turn_idx",
        F.array_sort(
            F.array_distinct(
                F.transform(ws_tokens("text"), lambda x: h60(x))
            )
        ).alias("terms"),
    )

    out_schema = (
        "conv_id string, role string, p long, n_inter long, "
        "n_union long, jacc double"
    )
    state_schema = "prev array<long>, rn long"

    def fn(key, pdfs, state: GroupState):
        conv_id, role = key
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            "turn_idx", kind="mergesort"
        )
        if state.exists:
            prev_list, rn = state.get
            prev = np.asarray(prev_list, dtype=np.int64)
        else:
            prev, rn = None, 0
        rows = []
        for terms in pdf["terms"]:
            cur = np.asarray(terms, dtype=np.int64)
            rn += 1
            if prev is not None:
                n_inter = int(np.intersect1d(prev, cur).size)
                n_union = int(prev.size + cur.size - n_inter)
                jacc = 1.0 if n_union == 0 else n_inter / n_union
                rows.append(
                    {
                        "conv_id": conv_id,
                        "role": role,
                        "p": rn - 1,
                        "n_inter": n_inter,
                        "n_union": n_union,
                        "jacc": jacc,
                    }
                )
            prev = cur
        state.update((prev.tolist(), rn))
        if rows:
            yield pd.DataFrame(rows)

    return digested.groupBy("conv_id", "role").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sft_pairs(
    transcripts: DataFrame,
    min_prompt_tokens: int | None = None,
    min_response_tokens: int | None = None,
    max_pair_tokens: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/sft.sft_pairs: extract SFT training
    pairs continuously from a live transcript stream.

    Text never crosses into Python or the state store: token_count and
    the 60-bit content digest are computed JVM-side before the stateful
    step, so per conv_id the state is ONE previous turn's scalars plus
    the kept-pair counter — bounded, independent of conversation length.

    Emits rows with exactly the batch operator's schema and gate
    constants; on append-ordered delivery the emitted log equals
    sft_pairs() on the same turns (tests assert row-for-row equality,
    including pair_idx numbering). Out-of-order turns belong to the
    batch heal path, like every stateful operator in this module.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.hashing import h60
    from ..functions.metrics import token_count_col, ts_us_col
    from ..operators import sft as _sft

    min_p = _sft.MIN_PROMPT_TOKENS if min_prompt_tokens is None else min_prompt_tokens
    min_r = (
        _sft.MIN_RESPONSE_TOKENS if min_response_tokens is None else min_response_tokens
    )
    max_t = _sft.MAX_PAIR_TOKENS if max_pair_tokens is None else max_pair_tokens

    cols = transcripts.columns
    ts_us = F.col("ts_us") if "ts_us" in cols else ts_us_col("ts")
    tok = (
        F.col("token_count")
        if "token_count" in cols
        else token_count_col().cast("long")
    )
    digested = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        ts_us.alias("ts_us"),
        tok.alias("token_count"),
        h60(F.col("text")).alias("digest"),
    )

    out_schema = (
        "conv_id string, user_turn_idx int, assistant_turn_idx int, "
        "prompt_tokens long, response_tokens long, pair_tokens long, "
        "response_latency_us long, prompt_digest long, "
        "response_digest long, kept boolean, pair_idx int"
    )
    state_schema = (
        "prev_role string, prev_turn_idx int, prev_ts_us long, "
        "prev_tokens long, prev_digest long, n_kept int"
    )

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["turn_idx", "ts_us"], kind="mergesort"
        )
        if state.exists:
            prev_role, prev_idx, prev_ts, prev_tok, prev_dig, n_kept = state.get
        else:
            prev_role = None
            prev_idx = prev_ts = prev_tok = prev_dig = None
            n_kept = 0
        rows = []
        for r in pdf.itertuples(index=False):
            if prev_role == "user" and r.role == "assistant":
                pair_tokens = int(prev_tok) + int(r.token_count)
                kept = (
                    int(prev_tok) >= min_p
                    and int(r.token_count) >= min_r
                    and pair_tokens <= max_t
                )
                if kept:
                    n_kept += 1
                rows.append(
                    {
                        "conv_id": conv_id,
                        "user_turn_idx": int(prev_idx),
                        "assistant_turn_idx": int(r.turn_idx),
                        "prompt_tokens": int(prev_tok),
                        "response_tokens": int(r.token_count),
                        "pair_tokens": pair_tokens,
                        "response_latency_us": int(r.ts_us) - int(prev_ts),
                        "prompt_digest": int(prev_dig),
                        "response_digest": int(r.digest),
                        "kept": kept,
                        "pair_idx": n_kept if kept else None,
                    }
                )
            prev_role = r.role
            prev_idx = int(r.turn_idx)
            prev_ts = int(r.ts_us)
            prev_tok = int(r.token_count)
            prev_dig = int(r.digest)
        state.update((prev_role, prev_idx, prev_ts, prev_tok, prev_dig, int(n_kept)))
        if rows:
            yield pd.DataFrame(rows)

    return digested.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_template_turns(
    transcripts: DataFrame, min_convs: int | None = None
) -> DataFrame:
    """Streaming twin of operators/templates.template_turns: detect
    cross-conversation boilerplate turns continuously, emitting each
    template digest ONCE — at the moment its distinct-conversation count
    crosses the threshold.

    Unlike the per-conv stateful operators, this one keys by the turn
    text's 60-bit digest, so its state question is "how much per key?"
    The answer is a hard constant: the distinct conv_ids seen so far are
    kept ONLY until the threshold (at most ``min_convs`` short strings),
    after which the set is dropped and a crossed flag remains. A
    million-occurrence template costs the same state as a 3-occurrence
    one — bounded by config, not by stream length. Text never enters the
    state store (digest computed JVM-side, like every twin here).

    Append-mode semantics: one output row per template, carrying the
    occurrence count AT crossing (the batch operator's running totals
    are a rescan-free arithmetic property of the batch store instead).
    Parity contract (tested): fed the same turns in any micro-batch
    split, the emitted digest set equals template_turns()'s digests.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.hashing import h60
    from ..functions.metrics import token_count_col
    from ..operators import templates as _t

    k = _t.TEMPLATE_MIN_CONVS if min_convs is None else min_convs
    if k < 2:
        raise ValueError(f"min_convs must be >= 2, got {k}")

    cols = transcripts.columns
    tok = (
        F.col("token_count")
        if "token_count" in cols
        else token_count_col().cast("long")
    )
    digested = transcripts.select(
        h60(F.col("text")).alias("digest"),
        "conv_id",
        tok.alias("token_count"),
    )

    out_schema = (
        "digest long, token_count long, n_convs int, "
        "n_occurrences_at_crossing long"
    )
    state_schema = (
        "seen array<string>, n_occ long, crossed boolean, token_count long"
    )

    def fn(key, pdfs, state: GroupState):
        (digest,) = key
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if state.exists:
            seen, n_occ, crossed, tok_c = state.get
            seen = list(seen)
        else:
            seen, n_occ, crossed, tok_c = [], 0, False, None
        rows = []
        for r in pdf.itertuples(index=False):
            n_occ += 1
            if tok_c is None:
                tok_c = int(r.token_count)
            if crossed:
                continue
            if r.conv_id not in seen:
                seen.append(r.conv_id)
                if len(seen) >= k:
                    crossed = True
                    seen = []  # threshold reached: drop the set, keep a flag
                    rows.append(
                        {
                            "digest": int(digest),
                            "token_count": tok_c,
                            "n_convs": k,
                            "n_occurrences_at_crossing": int(n_occ),
                        }
                    )
        state.update((seen, int(n_occ), bool(crossed), tok_c))
        if rows:
            yield pd.DataFrame(rows)

    return digested.groupBy("digest").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
