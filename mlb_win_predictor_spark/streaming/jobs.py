"""Structured Streaming semantics (SURVEY.md §2.7 T1-T5).

The reference is a daily micro-batch job: cron trigger (T1,
src/function.py:15-21), two-phase insert-then-complete state (T2,
:462-649), never-arriving outcomes left NULL (T3, :485-494), PK-dedup of
rescheduled games (T4, :624-636), ISO-timestamped JSON event log (T5,
:356-362). Each maps here to the idiomatic Structured Streaming
construct; the batch-equivalent duals are oracle-checked in
``queries.events`` — these jobs produce the SAME logical aggregation with
a watermark on top.

Scale: watermark state is bounded by (watermark horizon × key
cardinality); foreachBatch MERGE touches only matched partitions (with a
table format; plain-parquet join+overwrite documented as the test-env
fallback, SURVEY §7).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

def _event_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, src_dir: str, nanos: bool | None = None
) -> DataFrame:
    """T5 — file-source stream over the event-log directory (the JSON/S3
    log sink of src/function.py:531-535 becomes a streamed landing zone;
    parquet because that's the testdata format).

    The on-disk timestamp encoding varies by producer: TIMESTAMP(NANOS)
    reads as bigint under spark.sql.legacy.parquet.nanosAsLong,
    unadjusted TIMESTAMP(MICROS) reads as timestamp_ntz. ``nanos=None``
    sniffs the footer via a driver-side batch schema read and normalizes
    either encoding to TIMESTAMP (session TZ pinned UTC, so the NTZ cast
    is value-preserving); pass True/False to force when the directory is
    empty at stream-definition time."""
    if nanos is None:
        ts_type = dict(spark.read.parquet(src_dir).dtypes).get("ts")
    else:
        ts_type = "bigint" if nanos else "timestamp"
    if ts_type == "bigint":
        schema = _event_schema(T.LongType())
    elif ts_type == "timestamp_ntz":
        schema = _event_schema(T.TimestampNTZType())
    else:
        schema = _event_schema(T.TimestampType())
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5 — tumbling 1-day windowed counts with late-data watermark: the
    streaming dual of queries.events.tumbling_window_agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5 — sliding 2h/1h windowed counts (each event in 2 buckets), the
    streaming dual of queries.events.sliding_window_agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def session_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a 30-min inactivity gap — the streaming dual
    of queries.events.session_windows (native session_window operator)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T4 — rescheduled-event dedup: dropDuplicates on the event id within
    the watermark horizon (the PK-violation rollback of
    src/function.py:624-636, minus the round trip)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_stream_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """T4 variant — ``dropDuplicatesWithinWatermark`` (the production-
    preferred dedup API since Spark 3.5): unlike ``dropDuplicates``,
    duplicates whose *timestamps differ* (the reschedule case: the same
    event re-emitted later with a fresh ts) still collapse, provided the
    copies land within the watermark delay of the first arrival; and
    state eviction never needs the event-time column inside the key.
    State is bounded by the watermark horizon either way."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_sec: int = 3600,
    watermark_sec: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream join (SURVEY §2.7 engine surface):
    click→purchase attribution within ``horizon_sec`` per user. Both
    sides carry watermarks and the join condition time-bounds the match,
    so each side's buffered state is bounded by watermark + horizon —
    the requirement for an unbounded stream-stream inner join. Batch
    dual (oracle-checked): queries.events.event_pair_join.

    ``watermark_sec`` (late-data tolerance) defaults to
    ``max(horizon_sec, 3600)`` so the state-retention bound in the
    docstring holds for ANY horizon — a hardcoded 1h watermark under a
    2h horizon would silently widen the emission timing mismatch."""
    wm = f"{max(horizon_sec, 3600) if watermark_sec is None else watermark_sec} seconds"
    c = clicks.withWatermark("ts", wm).select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    p = purchases.withWatermark("ts", wm).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon_sec} SECONDS")
        ),
    ).select("user_id", "click_id", "purchase_id")


def click_purchase_stream_join_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_sec: int = 3600,
    watermark_sec: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the attribution report
    that must also show the clicks that never converted. An unmatched
    click emits (click, NULL purchase) only once the watermark passes
    ``click_ts + horizon``, when the engine can PROVE no match can still
    arrive; earlier emission would need retraction under out-of-order
    input. Until then the click sits in join state, so state stays
    bounded by watermark + horizon exactly like the inner join. Caveat
    pinned by the test: outer rows flush in the batch AFTER the
    watermark advance that frees them — a drained availableNow run needs
    a later batch (or trailing heartbeat) to surface the tail.
    ``watermark_sec`` defaults to ``max(horizon_sec, 3600)`` — see the
    inner variant."""
    wm = f"{max(horizon_sec, 3600) if watermark_sec is None else watermark_sec} seconds"
    c = clicks.withWatermark("ts", wm).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", wm).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon_sec} SECONDS")
        ),
        "left_outer",
    ).select("user_id", "click_id", "purchase_id")


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY
    §2.7 engine surface): per-user running event count + value total
    maintained as explicit state across micro-batches — the
    two-phase-accumulation pattern (T2) generalized to arbitrary state.

    Closure is self-contained (local imports only) so Python workers need
    nothing on sys.path.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdfs, state):
        import pandas as _pd

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, float(total)))
        yield _pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running totals on Spark 4's
    ``transformWithStateInPandas`` (the successor API to
    applyInPandasWithState): explicit named state handles
    (``getValueState``) with per-state TTL support, timers, and
    multiple typed state variables per processor — the engine's
    forward path for arbitrary stateful operators. State layout and
    emissions are identical to ``running_user_totals_stream``, which the
    equivalence test exploits.

    Closure is self-contained (local imports only) so Python workers
    need nothing on sys.path.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._totals.update((n, float(total)))
            yield _pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


# the persisted MinHash band index: one row per LSH band per kept doc
DEDUP_INDEX_SCHEMA = "doc_id long, band_idx int, band_sig long"


def apply_dedup_epoch(
    docs: DataFrame, epoch_id: int, index_path: str
) -> tuple[DataFrame, DataFrame]:
    """One epoch of incremental near-dedup — the foreachBatch step of
    ``incremental_dedup_stream`` and ``llm_curation_stream``, module-level
    so replay is directly testable. Reads the band index of every
    committed epoch BELOW ``epoch_id``, bands ``docs`` (doc_id, text)
    ONCE, keeps the docs ``incremental_neardup_filter`` passes (no band
    collision with the index or with a smaller id in the batch), and
    overwrites ``index_path/epoch=N`` with the survivors' bands.

    The survivors' bands are the batch bands semi-joined to the surviving
    ids (banding is deterministic per doc), so the shingle → 32-min-hash
    → band projection runs once per epoch; re-banding the survivors from
    text measured ~6-22s of pure recompute per epoch at sf0.1.

    Returns (kept, bands), both persisted: the caller consumes ``kept``
    and unpersists both in its ``finally``."""
    from ..operators.dedup import incremental_neardup_filter, minhash_band_index

    index = read_epoch_union(
        docs.sparkSession, index_path, DEDUP_INDEX_SCHEMA, below=epoch_id
    )
    bands = minhash_band_index(docs).persist()
    kept = None
    try:
        kept = incremental_neardup_filter(index, docs, new_bands=bands).persist()
        bands.join(kept.select("doc_id"), "doc_id", "leftsemi").write.mode(
            "overwrite"
        ).parquet(f"{index_path}/epoch={epoch_id}")
    except BaseException:
        for df in (bands, kept):
            if df is not None:
                df.unpersist()
        raise
    return kept, bands


def incremental_dedup_stream(
    new_docs: DataFrame, index_path: str, kept_path: str, checkpoint: str
):
    """Streaming incremental corpus dedup: each micro-batch of documents
    is near-dup-filtered against the persisted MinHash band index
    (operators.dedup.incremental_neardup_filter — corpus never
    re-shingled; the batch's bands broadcast against the index), then the
    survivors are appended to the corpus AND their bands to the index, so
    later batches dedup against everything kept so far. Exactly the
    ingest loop of a continuously-growing training corpus.

    State lives in the two parquet tables, not the streaming engine
    (same pattern as the foreachBatch MERGE): restart-safe via the
    checkpoint. foreachBatch is at-least-once and appends are not
    naturally idempotent, so both tables are laid out as per-epoch
    directories: epoch N reads the index as the union of committed
    epochs BELOW N (deterministic on replay even if N's own index write
    survived a crash) and overwrites ``epoch=N`` in both tables — a
    replayed epoch reproduces its own output instead of appending
    duplicates, with no marker race window. Readers take the union of
    committed epochs (``read_epoch_union``), which IS append semantics,
    just commit-aware."""

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        kept, bands = apply_dedup_epoch(batch, epoch_id, index_path)
        try:
            kept.write.mode("overwrite").parquet(f"{kept_path}/epoch={epoch_id}")
        finally:
            kept.unpersist()
            bands.unpersist()

    return (
        new_docs.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def decontaminate_stream(
    new_docs: DataFrame,
    bits_broadcast,
    kept_path: str,
    checkpoint: str,
    n: int = 5,
):
    """Streaming ingest decontamination gate: each micro-batch of
    documents is screened against the broadcast Bloom bitset of the
    benchmark gram set (``operators.bloom``) and only docs with ZERO
    might-contain grams are kept. The probe is entirely batch-local —
    gram build is map-side, the vectorized probe is map-side, the only
    per-batch shuffle is the doc-grain hit rollup — so the gate adds no
    streaming state and scales with batch size only.

    Bloom-only by design (no exact re-check): at ingest time the exact
    bench gram TABLE may live elsewhere; the cost is the filter's FPR
    (~2% of clean docs over-dropped at the sized load — a conservative
    trade for a contamination gate, and no contaminated doc is ever
    kept: Bloom filters have no false negatives). The batch-side
    ``decontaminate_bloom`` entry is the exact-answer dual.

    Output is per-epoch directories with overwrite (same replay-safe
    at-least-once layout as ``incremental_dedup_stream``); readers take
    ``read_epoch_union``."""

    def gate(batch: DataFrame, epoch_id: int) -> None:
        kept = _bloom_clean_docs(batch, bits_broadcast, n).select("doc_id", "text")
        kept.write.mode("overwrite").parquet(f"{kept_path}/epoch={epoch_id}")

    return (
        new_docs.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _bloom_clean_docs(batch: DataFrame, bits_broadcast, n: int) -> DataFrame:
    """The Bloom zero-hit keep filter, factored so ``decontaminate_stream``
    and ``llm_curation_stream`` share it by call, not copy: returns the
    rows of ``batch`` (all columns) whose word-n-gram set has ZERO
    might-contain hits against the broadcast bitset.

    Inner explode + left join back, NOT explode_outer through the probe:
    Spark evaluates pandas UDFs in a separate ArrowEvalPython node over
    every row regardless of an enclosing when(), so a NULL gram from a
    sub-n-token doc would reach the UDF. Docs with no grams have nothing
    to probe and are kept via the left join's coalesce."""
    from ..functions.ngrams import hashed_gram_set, word_ngrams
    from ..operators.bloom import bloom_might_contain

    toks = F.split(F.trim(F.col("text")), r"\s+")
    grams = batch.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.explode(hashed_gram_set(word_ngrams(F.col("toks"), n))).alias("gram"),
    )
    hits = (
        grams.filter(bloom_might_contain("gram", bits_broadcast))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        batch.join(hits, "doc_id", "left")
        .filter(F.coalesce(F.col("n_hits"), F.lit(0)) == 0)
        .drop("n_hits")
    )


def _dsir_token_scores(docs: DataFrame, bucket_logratios: dict[str, float]) -> DataFrame:
    """(doc_id, n_tokens, sum_klr) of each doc of ``docs`` (doc_id, text)
    against a batch-trained DSIR bucket model: its token count and
    Σ_b k_b·lr_b. The ≤256-entry model ships as a ``create_map``
    LITERAL, so the plan is tokenize → md5-bucket → map lookup → doc
    rollup: map-side except the doc-grain aggregations, no Python UDF.
    Buckets unseen in training fall back to the smoothed empty-bucket
    ratio ln(1/1) = 0.0, matching the batch model's full-outer +
    coalesce(0) semantics. Callers add the ``n·norm`` term and divide
    as their own outputs need."""
    from ..queries.text import dsir_bucket

    items: list = []
    for b, lr in sorted(bucket_logratios.items()):
        items.append(F.lit(b))
        items.append(F.lit(float(lr)))
    lr_map = F.create_map(*items) if items else F.create_map()
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
        )
        .select("doc_id", dsir_bucket())
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(
                F.col("k").cast("double") * F.coalesce(lr_map[F.col("b")], F.lit(0.0))
            ).alias("sum_klr"),
        )
    )


def llm_curation_stream(
    new_docs: DataFrame,
    bits_broadcast,
    index_path: str,
    stats_path: str,
    kept_path: str,
    checkpoint: str,
    budget_per_source: int,
    gram_n: int = 5,
    dsir_model: tuple[dict[str, float], float] | None = None,
):
    """The STREAMING LLM-curation capstone: the incremental dual of the
    batch ``llm_dataset_pipeline*`` entries, composed from the gates this
    module already ships one-by-one — ONE foreachBatch body runs, in
    stage order per micro-batch:

    1. **quality** — ``queries.text.llm_quality_expr`` (the batch
       capstone's exact rule, shared by call);
    2. **incremental near-dedup** — survivors are filtered against the
       persisted MinHash band index of everything kept by EARLIER
       epochs (``operators.dedup.incremental_neardup_filter``: batch
       bands broadcast, corpus never re-shingled), then their bands are
       appended so later batches dedup against them — the same
       ``apply_dedup_epoch`` ``incremental_dedup_stream`` runs;
    3. **Bloom decontamination** — ``_bloom_clean_docs`` zero-hit keep
       against the broadcast bench-gram bitset (exactly
       ``decontaminate_stream``'s gate);
    4. **per-source token budget** — ARRIVAL-ordered spending with the
       batch capstone's CHARGE rule: every clean doc charges its tokens
       to its source's running total whether or not it is admitted, and
       a doc is kept while ``charged_before + cum ≤ budget`` (the batch
       entries' ``cum ≤ BUDGET`` window, split at epoch boundaries).
       The cross-epoch state is therefore cumulative CLEAN tokens
       (``tokens_clean`` in the stats table), NOT admitted tokens —
       carrying only admitted tokens would un-charge every
       budget-rejected doc at each epoch boundary, making the kept set
       depend on micro-batch boundaries (pinned by the
       over-budget-then-epoch-boundary case in tests/test_streaming.py).
       Arrival order is the production semantics — a 100 TB ingest
       stops admitting a source when its budget fills — where the BATCH
       capstone, holding the whole corpus, can afford a global md5-hash
       (v1) or DSIR (v3) spending order; the stream==batch parity test
       therefore feeds epochs in doc_id order so both orders coincide.

       ``dsir_model=(bucket_logratios, norm)`` upgrades the WITHIN-EPOCH
       spending order to descending DSIR per-token importance — each
       epoch's clean docs are scored against the batch-trained
       hashed-unigram bucket model (``_dsir_token_scores``, the
       ``dsir_select_stream`` literal-map plan, batch v3's exact float
       discipline: 6dp-rounded total log-weight, per-token order,
       doc_id tiebreak) and the budget window spends best-first inside
       the epoch. This is the STREAM-FEASIBLE half of batch v3's
       global DSIR order, and exactly half is all a stream can have:
       admission is irreversible (epoch N's kept docs are already in
       the published corpus and the band index), so a cross-epoch
       global importance order is impossible without reprocessing —
       a later high-weight doc cannot un-admit an earlier low-weight
       one whose tokens were charged. Multi-epoch therefore equals the
       single-batch v3 reference exactly WHEN arrival order respects
       the global weight order across epoch boundaries (the parity
       fixture constructs this), and degrades gracefully — never
       incoherently, thanks to the charge rule — when it does not.

    State lives in three parquet tables, not the streaming engine:
    ``index_path`` (band index of dedup survivors), ``stats_path``
    (per-epoch per-source attrition counters — its ``tokens_clean`` IS
    the budget state), ``kept_path`` (the curated corpus). All three are
    per-epoch directories written with overwrite, and epoch N reads
    committed state strictly BELOW N — foreachBatch's at-least-once
    replay reproduces an epoch instead of double-counting it (the
    ``incremental_dedup_stream`` layout; readers take
    ``read_epoch_union``).

    Per-batch shuffle shape: the quality gate is map-side; dedup
    shuffles batch-size band rows (index side streams through a
    broadcast hash join); the Bloom probe is map-side + a doc-grain
    rollup; the budget is one window over batch-size rows per source.
    Nothing scales with corpus size except the index scan, which a
    bucketed-by-(band_idx, band_sig) layout prunes to matching buckets."""
    from ..functions.scalars import stable_round
    from ..queries.text import llm_quality_expr

    def curate(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        toked = batch.select(
            "doc_id",
            "source",
            "text",
            F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
        )
        n_tok, q = llm_quality_expr(F.col("toks"))
        # ``toks`` is deliberately DROPPED here even though the DSIR
        # weighting stage below re-splits clean docs' text: carrying the
        # array through the persisted ``deduped`` frame measured 15-20%
        # SLOWER at sf0.1 (two interleaved single-JVM A/Bs, both leg
        # orders) — serializing token arrays into the persist costs more
        # than one regex split over the clean subset, the same result as
        # the batch ``toked``-cache A/B.
        # ONE materialized copy of the flagged batch: quality (→ banding
        # AND the dedup anti-join) and the stats rollup would otherwise
        # each re-evaluate the scan + token split + quality expressions —
        # three corpus-grain passes per epoch for one micro-batch of
        # data. Batch-sized by construction, so the persist is bounded
        # exactly like ``deduped``/``selected``.
        flagged = bands_q = deduped = clean = selected = None
        try:
            flagged = toked.select(
                "doc_id", "source", "text", n_tok.cast("long").alias("n_toks"), q.alias("q")
            ).persist()
            quality = flagged.filter("q").drop("q")
            # the index write is the epoch's first write, before any stage
            # below consumes the survivors
            deduped, bands_q = apply_dedup_epoch(quality, epoch_id, index_path)
            # Persist the Bloom-clean survivors: the DSIR weighting, the
            # budget window, and the stats rollup each consume ``clean`` —
            # otherwise re-running the gram explode + ArrowEval Bloom probe
            # chain up to three times per epoch.
            clean = _bloom_clean_docs(deduped, bits_broadcast, gram_n).persist()

            spent = read_epoch_union(
                spark,
                stats_path,
                "source string, n_input long, n_quality long, n_dedup long, "
                "n_clean long, n_final long, tokens_clean long, tokens_final long",
                below=epoch_id,
            )
            # cumulative CLEAN tokens, not admitted tokens: the batch cum
            # charges every clean doc, so the stream must too (see docstring)
            prior = spent.groupBy("source").agg(
                F.sum("tokens_clean").alias("_spent_before")
            )
            if dsir_model is not None:
                # DSIR within-epoch spending order: score the epoch's clean
                # docs against the literal bucket model (batch v3's exact
                # grain — 6dp-rounded total log-weight, ordered per-token,
                # doc_id tiebreak; LEFT join + sentinel so a token-less doc
                # still sorts deterministically last)
                lrs, dsir_norm = dsir_model
                wts = _dsir_token_scores(clean, lrs).select(
                    "doc_id",
                    stable_round(
                        F.col("sum_klr")
                        + F.col("n_tokens").cast("double") * F.lit(float(dsir_norm)),
                        6,
                    ).alias("_lw"),
                )
                spend_base = clean.join(wts, "doc_id", "left")
                spend_order = [
                    F.coalesce(
                        F.col("_lw") / F.col("n_toks").cast("double"), F.lit(-1e300)
                    ).desc(),
                    F.col("doc_id").asc(),
                ]
            else:
                spend_base = clean
                spend_order = [F.col("doc_id").asc()]
            wb = (
                W.partitionBy("source")
                .orderBy(*spend_order)
                .rowsBetween(W.unboundedPreceding, 0)
            )
            selected = (
                spend_base.withColumn("_cum", F.sum("n_toks").over(wb))
                .join(F.broadcast(prior), "source", "left")
                .filter(
                    F.coalesce(F.col("_spent_before"), F.lit(0)) + F.col("_cum")
                    <= F.lit(int(budget_per_source))
                )
                .select("doc_id", "source", "text", "n_toks")
                .persist()
            )
            # per-epoch writes, all overwrite — idempotent on replay
            stats = (
                flagged.groupBy("source")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_input"),
                    F.sum(F.col("q").cast("long")).cast("long").alias("n_quality"),
                )
                .join(
                    deduped.groupBy("source").agg(
                        F.count(F.lit(1)).cast("long").alias("n_dedup")
                    ),
                    "source",
                    "left",
                )
                .join(
                    clean.groupBy("source").agg(
                        F.count(F.lit(1)).cast("long").alias("n_clean"),
                        F.sum("n_toks").cast("long").alias("tokens_clean"),
                    ),
                    "source",
                    "left",
                )
                .join(
                    selected.groupBy("source").agg(
                        F.count(F.lit(1)).cast("long").alias("n_final"),
                        F.sum("n_toks").cast("long").alias("tokens_final"),
                    ),
                    "source",
                    "left",
                )
                .select(
                    "source",
                    "n_input",
                    "n_quality",
                    *[
                        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                        for c in (
                            "n_dedup",
                            "n_clean",
                            "n_final",
                            "tokens_clean",
                            "tokens_final",
                        )
                    ],
                )
            )
            stats.write.mode("overwrite").parquet(f"{stats_path}/epoch={epoch_id}")
            selected.write.mode("overwrite").parquet(
                f"{kept_path}/epoch={epoch_id}"
            )
        finally:
            # unpersist-if-built: an exception between a persist() and the
            # terminal writes must not leak cached blocks across epochs of
            # a long-running stream (``apply_dedup_epoch`` releases its own
            # persists when it fails).
            for _df in (flagged, bands_q, deduped, clean, selected):
                if _df is not None:
                    _df.unpersist()

    return (
        new_docs.writeStream.foreachBatch(curate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def dsir_select_stream(
    new_docs: DataFrame,
    bucket_logratios: dict[str, float],
    norm: float,
    per_token_threshold: float,
    kept_path: str,
    checkpoint: str,
):
    """Streaming ingest DSIR gate (the streaming dual of the
    ``dsir_importance_weights`` catalog entry): each micro-batch of
    documents is scored against a BATCH-TRAINED hashed-unigram bucket
    model (Xie et al. 2023) and only documents whose per-token importance
    log-weight clears ``per_token_threshold`` are kept — "ingest only
    what looks like the target domain", the streaming form of data
    selection.

    The model is ≤256 (bucket → ln((t_b+1)/(r_b+1))) entries plus the
    smoothing normalizer — it ships as a ``create_map`` LITERAL, so the
    per-batch plan is tokenize → md5-bucket → map lookup → doc rollup:
    everything map-side except the doc-grain aggregation, no Python UDF,
    no streaming state, batch-size-only scaling (the same posture as
    ``decontaminate_stream``). Output is per-epoch directories with
    overwrite (replay-safe at-least-once; readers take
    ``read_epoch_union``).

    score(doc) = [Σ_b k_b·lr_b + n·norm] / n  — identical integers and
    the same one-final-arithmetic float discipline as the batch entry,
    so a doc scores the SAME whether it arrives in a batch backfill or
    through this gate (pinned by tests/test_streaming.py)."""

    def gate(batch: DataFrame, epoch_id: int) -> None:
        scored = _dsir_token_scores(batch, bucket_logratios).select(
            "doc_id",
            (
                (F.col("sum_klr") + F.col("n_tokens").cast("double") * F.lit(float(norm)))
                / F.col("n_tokens").cast("double")
            ).alias("per_token_logweight"),
        )
        kept = (
            batch.join(scored, "doc_id", "left")
            .filter(
                F.coalesce(F.col("per_token_logweight"), F.lit(float("-inf")))
                >= F.lit(float(per_token_threshold))
            )
            .select("doc_id", "text", "per_token_logweight")
        )
        kept.write.mode("overwrite").parquet(f"{kept_path}/epoch={epoch_id}")

    return (
        new_docs.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def media_decode_stream(
    spark,
    media_path: str,
    out_path: str,
    checkpoint: str,
    glob: str = "*.png",
    max_files_per_trigger: int = 64,
):
    """Streaming multimodal ingest — the object-store drop-zone pattern:
    a ``binaryFile`` FILE-STREAM source discovers newly landed media
    files, each micro-batch is decoded by the REAL PNG codec
    (``operators.multimodal.decode_png_media``: CRC verify, inflate,
    unfilter → dims + pixel stats), and results land in the EXACTLY-ONCE
    parquet streaming sink (``_spark_metadata`` commit log — restarts
    reprocess nothing, readers never see a torn epoch; stronger than the
    foreachBatch epoch-dir pattern the dedup/decontamination gates use,
    available here because decode is a pure 1:1 map).

    Zero streaming state: decode is map-only mapInPandas on the stream,
    so throughput scales with files per batch only;
    ``maxFilesPerTrigger`` bounds batch memory under ingest spikes (at
    100 TB the same query runs continuously, discovering files from the
    store listing, executors decoding in parallel). ``doc_id`` is the
    xxhash64 of the file path — stable across replays by construction.
    Returns the DataStreamWriter; callers ``.start().awaitTermination()``
    (availableNow drains the backlog and stops)."""
    from ..operators.multimodal import decode_png_media

    files = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is FIXED by the format, but streaming
        # sources refuse inference — spell it out
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(media_path)
    )
    media = files.select(
        F.xxhash64("path").alias("doc_id"),
        F.lit("image/png").alias("mime"),
        F.col("content").alias("payload"),
    )
    decoded = decode_png_media(media)
    return (
        decoded.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def enrich_stream_static(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static broadcast enrichment: the streaming analog of the
    reference's per-row dim lookups (J1/J2, src/function.py:58-69,486) —
    each micro-batch hash-joins against the static dimension with NO
    streaming state (the static side is re-planned per batch, so a dim
    refresh is picked up between batches). Broadcast keeps the stream
    side shuffle-free; at 100 TB the dim is the small side by
    construction (players ≈ 1.5k rows in the reference)."""
    return events.join(F.broadcast(dim), on, "left")


def cms_sketch_stream(events: DataFrame, sketch_path: str, checkpoint: str, key: str = "user_id"):
    """Incremental count-min maintenance: each micro-batch is sketched
    (one map-side-combinable agg over the batch) and cell-wise merged
    into the persisted sketch table — the fact stream is never replayed,
    and the sketch stays ≤ depth×width rows forever. The streaming dual
    of ``queries.ops.cms_heavy_hitters``; merged-result equivalence to a
    single full-corpus sketch is the mergeability guarantee tested in
    tests/test_operators.py and tests/test_streaming.py.

    Additive cell-wise merges are not replay-safe (at-least-once
    foreachBatch would double-count a re-delivered epoch), so the sketch
    uses the same versioned-snapshot log as ``incremental_rollup_stream``
    (see its docstring for the crash-window analysis); read the current
    sketch with ``read_snapshot(spark, sketch_path)``."""
    from ..operators.sketches import cms_build, cms_merge

    def sketch_batch(batch: DataFrame, epoch_id: int) -> None:
        _apply_versioned_epoch(cms_build(batch, key), epoch_id, sketch_path, cms_merge)

    return (
        events.writeStream.foreachBatch(sketch_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def incremental_rollup_stream(events: DataFrame, rollup_path: str, checkpoint: str):
    """Incremental materialized-view maintenance — the nightly-rescan
    replacement: each micro-batch partially aggregates to
    (day, event_type) → (n, total) and is key-wise ADDED into the stored
    rollup. Counts and DECIMAL sums are commutative monoids, so
    batch-boundary placement cannot change the result, the fact stream
    is never replayed, and the rollup stays O(days × types) rows forever
    while the facts grow to 100 TB.

    Additive merges are NOT replay-safe by construction (a re-delivered
    foreachBatch epoch would double-count), so the rollup is stored as a
    VERSIONED snapshot log: epoch N merges the latest _SUCCESS-committed
    snapshot with id < N and overwrites ``epoch=N`` — deterministic
    inputs + deterministic target + overwrite = a replayed epoch
    reproduces, never re-adds. A crash mid-write leaves ``epoch=N``
    without _SUCCESS; readers (``read_rollup``) skip it and the retry
    overwrites it. This closes BOTH crash windows a
    marker-after-overwrite scheme leaves open (replay double-count, and
    a torn final overwrite with no intact copy). Snapshots are
    O(days × types) rows, so the ≤2 retained copies are negligible next
    to the fact stream; older epochs are GC'd after each commit."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        apply_rollup_epoch(batch, epoch_id, rollup_path)

    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def apply_bitmap_epoch(batch: DataFrame, epoch_id: int, bitmap_path: str) -> None:
    """One epoch of exact-distinct bitmap maintenance (foreachBatch body,
    module-level so replay is directly testable): per-(event_type,
    bucket) user-id bitmaps OR-merged into the stored state — bitmaps
    are an idempotent commutative monoid (a | a = a), so unlike the
    additive rollup even double-delivery of ROWS is harmless; the
    versioned-epoch log still guards batch-boundary replay for free."""
    delta = batch.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bk")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))

    def merge(cur: DataFrame, d: DataFrame) -> DataFrame:
        return (
            cur.unionByName(d)
            .groupBy("event_type", "bk")
            .agg(F.bitmap_or_agg("bm").alias("bm"))
        )

    _apply_versioned_epoch(delta, epoch_id, bitmap_path, merge)


def incremental_bitmap_distinct_stream(
    events: DataFrame, bitmap_path: str, checkpoint: str
):
    """Incremental EXACT distinct-user maintenance — the streaming dual
    of ``queries.ops.bitmap_distinct_rollup``: each micro-batch's user
    ids become per-(type, bucket) bitmaps OR-merged into a versioned
    snapshot; ``read_bitmap_distinct`` answers exact per-type distinct
    counts from O(types x buckets) bitmap rows without ever rescanning
    the fact stream (the exact counterpart of ``cms_sketch_stream``'s
    approximate path)."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        apply_bitmap_epoch(batch, epoch_id, bitmap_path)

    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def read_bitmap_distinct(spark, bitmap_path: str) -> DataFrame | None:
    """Exact per-type distinct users from the maintained bitmap state."""
    snap = read_snapshot(spark, bitmap_path)
    if snap is None:
        return None
    return snap.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("distinct_users")
    )


def _committed_epochs(path: str) -> list[int]:
    """Epoch snapshot ids under ``path`` whose write completed (_SUCCESS
    present — the commit record on plain parquet)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("epoch=") and os.path.exists(
            os.path.join(path, name, "_SUCCESS")
        ):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def read_snapshot(spark, path: str) -> DataFrame | None:
    """Latest committed snapshot of a versioned-epoch state dir
    (rollup / CMS sketch), or None before the first epoch."""
    epochs = _committed_epochs(path)
    if not epochs:
        return None
    return spark.read.parquet(f"{path}/epoch={epochs[-1]}")


# read_rollup is the rollup-flavored name for the same operation
read_rollup = read_snapshot


def read_epoch_union(
    spark, path: str, schema: str, below: int | None = None
) -> DataFrame:
    """Union of committed per-epoch directories — append semantics over
    an idempotent per-epoch layout (each epoch owns ``epoch=N`` and
    overwrites only itself). ``below`` restricts to epochs < N, which is
    what epoch N itself must read so a replay after a partial crash sees
    the identical pre-N state. Returns an empty frame with ``schema``
    before the first commit."""
    epochs = _committed_epochs(path)
    if below is not None:
        epochs = [e for e in epochs if e < below]
    if not epochs:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*[f"{path}/epoch={e}" for e in epochs])


def _apply_versioned_epoch(delta: DataFrame, epoch_id: int, path: str, merge) -> None:
    """Commit one epoch of an additively-merged state: merge the latest
    committed snapshot BELOW this epoch with ``delta`` via ``merge(cur,
    delta)``, overwrite this epoch's own snapshot directory, GC snapshots
    older than the merge input. Deterministic inputs + deterministic
    target + overwrite = a replayed epoch reproduces, never re-adds."""
    spark = delta.sparkSession
    prev = [e for e in _committed_epochs(path) if e < epoch_id]
    if prev:
        merged = merge(spark.read.parquet(f"{path}/epoch={prev[-1]}"), delta)
    else:
        merged = delta
    merged.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")
    # keep the merge input (prev[-1]) for replay determinism of THIS
    # epoch; anything older can never be read again
    for e in prev[:-1]:
        shutil.rmtree(f"{path}/epoch={e}", ignore_errors=True)


def apply_rollup_epoch(batch: DataFrame, epoch_id: int, rollup_path: str) -> None:
    """One epoch of rollup maintenance (the foreachBatch body, module-level
    so replay is directly testable)."""
    delta = (
        batch.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .withColumn("total", F.col("total").cast("decimal(28,2)"))
    )

    def merge(cur: DataFrame, d: DataFrame) -> DataFrame:
        return (
            cur.unionByName(d)
            .groupBy("day", "event_type")
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            .withColumn("total", F.col("total").cast("decimal(28,2)"))
        )

    _apply_versioned_epoch(delta, epoch_id, rollup_path, merge)


def incremental_ann_index_stream(
    new_vectors: DataFrame, centroids_path: str, index_path: str, checkpoint: str
):
    """Incremental ANN (IVF) index maintenance — the continuously-growing
    embedded-corpus ingest loop: each micro-batch of vectors is assigned
    to the FROZEN coarse-quantizer centroids (map-only broadcast argmin,
    operators.similarity.ivf_assign — the corpus is never re-clustered)
    and appended to the cell-partitioned index, so searches
    (ivf_search_index) immediately see new vectors and still prune to
    n_probe/n_cells of the files. Idempotence is BY CONSTRUCTION, not by
    marker: each epoch writes (mode=overwrite) into its own
    ``epoch=<id>`` partition directory, so a replayed epoch — including
    a crash between write and any bookkeeping, the window a
    marker-after-append scheme leaves open — overwrites its own output
    instead of appending duplicates. at-least-once foreachBatch +
    deterministic-target overwrite = exactly-once index contents.
    Readers partition-discover ``epoch=*/cell=*`` from the base path;
    cell pruning is unaffected (cell stays a partition column). A reader
    racing a crashed-mid-write epoch should use ``read_epoch_union``
    (commit-aware: skips epoch dirs without _SUCCESS); with
    availableNow ingest the stream completes before searches run, so
    the base-path read is the common case."""
    def index_batch(batch: DataFrame, epoch_id: int) -> None:
        apply_ann_index_epoch(batch, epoch_id, centroids_path, index_path)

    return (
        new_vectors.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def apply_ann_index_epoch(
    batch: DataFrame, epoch_id: int, centroids_path: str, index_path: str
) -> None:
    """One epoch of IVF index ingest (the foreachBatch body of
    incremental_ann_index_stream, module-level so replay is directly
    testable): assign against the frozen centroids, overwrite the
    epoch's own partition directory."""
    from ..operators.similarity import ivf_assign

    spark = batch.sparkSession
    cents = spark.read.parquet(centroids_path)
    assigned = ivf_assign(batch, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        index_path + f"/epoch={epoch_id}"
    )


def upsert_outcomes_foreach_batch(
    updates: DataFrame, games_path: str, checkpoint: str
):
    """T2 — two-phase outcome completion as a foreachBatch MERGE
    (src/function.py:480-513 semantics): each micro-batch of
    (game_id, winning_team) results is merged into the stored games
    table. Plain parquet has no MERGE, so the batch function does
    join+overwrite (Delta `MERGE INTO` is the production path)."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not os.path.exists(games_path):
            return
        games = spark.read.parquet(games_path)
        b = batch.dropDuplicates(["game_id"]).select(
            "game_id", F.col("winning_team").alias("new_winning_team")
        )
        merged = (
            games.join(F.broadcast(b), "game_id", "left")
            .withColumn(
                "winning_team",
                F.coalesce(F.col("new_winning_team"), F.col("winning_team")),
            )
            .drop("new_winning_team")
        )
        tmp = games_path + f".tmp_epoch_{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(games_path)
        shutil.rmtree(tmp, ignore_errors=True)

    return (
        updates.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def score_games_stream(
    prepared: DataFrame, model_dir: str, predictions_path: str, checkpoint: str
):
    """The reference's daily 'predict upcoming games, show the results
    live' loop (README.md:24) as a Structured Streaming job — the
    streaming flavor of the batch inference path (M11,
    ``pipeline.games.score_games``): each micro-batch of freshly
    PREPARED games is scored through the same label-free funnel
    (``prediction_features``) with the saved PipelineModel loaded ONCE
    per job, and the (game_id, predicted_winner) pairs land as a
    per-epoch parquet partition.

    Exactly-once discipline matches the repo's other foreachBatch jobs:
    foreachBatch is at-least-once, so a replayed epoch OVERWRITES its
    own ``epoch=N`` directory with identical content instead of
    appending duplicates; readers union committed epochs
    (``read_epoch_union``). Publishing into the games table itself is
    the batch MERGE (``score_games`` / ``upsert_outcomes_foreach_batch``
    shape) over this predictions log."""
    from pyspark.ml import PipelineModel

    from ..pipeline.games import prediction_features

    model = PipelineModel.load(model_dir)

    def score_batch(batch: DataFrame, epoch_id: int) -> None:
        feats = prediction_features(batch)
        pred = model.transform(feats)
        winner = (
            F.when(F.col("prediction") == 1.0, F.col("home_team_id"))
            .otherwise(F.col("away_team_id"))
            .cast("double")
        )
        pred.select("game_id", winner.alias("predicted_winner")).write.mode(
            "overwrite"
        ).parquet(f"{predictions_path}/epoch={epoch_id}")

    return (
        prepared.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
