"""Structured Streaming surface over the engine's event-table shape.

The reference is batch-only (SURVEY §2.2 "streaming absent"); this module
is new Spark-first design: thin, typed wrappers over
``readStream → withWatermark → window/session_window → writeStream`` so a
user of the batch `events` operators (extras/events.py) gets the same
rollups incrementally.

Everything stays on built-in Catalyst streaming operators — watermarked
tumbling / sliding / session windows compile to Spark's incremental
stateful aggregation (partial aggregation + state store per window key),
which is the plan that scales: state is partitioned by group key, no
driver-side loops, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import owned

__all__ = [
    "read_event_stream", "tumbling_window_agg", "sliding_window_agg",
    "session_window_agg", "stateful_sessionize", "dedup_stream",
    "neardup_stream", "span_cut_stream", "neardup_ingest_stream",
    "semantic_ingest_stream",
    "ivfpq_append_stream",
    "stream_interval_join", "run_to_memory", "write_stream_parquet",
]


def read_event_stream(spark: SparkSession, path: str, schema=None,
                      fmt: str = "parquet", ts_col: str = "ts",
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based event stream (the streaming twin of
    extras/events.load_events).  ``schema`` is required by Spark for file
    streams; pass the batch table's schema."""
    reader = spark.readStream.format(fmt)
    if schema is None:
        raise ValueError(
            "file streams need an explicit schema; read the batch table "
            "once and pass its .schema"
        )
    reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def _agg_exprs(aggs: dict[str, str] | None):
    """{'out_name': 'sum(value)'} -> [Column]; defaults to event count."""
    if not aggs:
        return [F.count(F.lit(1)).alias("n_events")]
    return [F.expr(spec).alias(name) for name, spec in aggs.items()]


def _with_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; a TIMESTAMP_NTZ event time (the
    engine's canonical wall-clock type) is cast via the session timezone,
    which is deterministic for a fixed session configuration."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def tumbling_window_agg(events: DataFrame, ts_col: str = "ts",
                        window: str = "1 hour",
                        watermark: str = "2 hours",
                        keys: list[str] | None = None,
                        aggs: dict[str, str] | None = None) -> DataFrame:
    """Watermarked tumbling-window aggregation.  Late rows beyond the
    watermark are dropped and closed windows emit exactly once in append
    mode."""
    w = _with_event_time(events, ts_col).withWatermark(ts_col, watermark)
    gcols = [F.window(F.col(ts_col), window), *(keys or [])]
    return (
        w.groupBy(*gcols)
        .agg(*_agg_exprs(aggs))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(keys or []),
            *[c for c in (aggs or {"n_events": None})],
        )
    )


def sliding_window_agg(events: DataFrame, ts_col: str = "ts",
                       window: str = "1 hour", slide: str = "15 minutes",
                       watermark: str = "2 hours",
                       keys: list[str] | None = None,
                       aggs: dict[str, str] | None = None) -> DataFrame:
    """Sliding (overlapping) window aggregation — each event lands in
    window/slide buckets."""
    w = _with_event_time(events, ts_col).withWatermark(ts_col, watermark)
    gcols = [F.window(F.col(ts_col), window, slide), *(keys or [])]
    return (
        w.groupBy(*gcols)
        .agg(*_agg_exprs(aggs))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(keys or []),
            *[c for c in (aggs or {"n_events": None})],
        )
    )


def session_window_agg(events: DataFrame, ts_col: str = "ts",
                       gap: str = "30 minutes", watermark: str = "2 hours",
                       keys: list[str] | None = None,
                       aggs: dict[str, str] | None = None) -> DataFrame:
    """Gap-based session windows (the streaming twin of
    extras/events.sessionize): a session closes when no event arrives for
    ``gap``; state is scoped per key by Spark's session-window operator."""
    w = _with_event_time(events, ts_col).withWatermark(ts_col, watermark)
    gcols = [F.session_window(F.col(ts_col), gap), *(keys or [])]
    return (
        w.groupBy(*gcols)
        .agg(*_agg_exprs(aggs))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *(keys or []),
            *[c for c in (aggs or {"n_events": None})],
        )
    )


def stateful_sessionize(events: DataFrame, user_col: str = "user_id",
                        ts_col: str = "ts", gap_minutes: int = 30,
                        watermark: str = "2 hours",
                        id_col: str = "event_id") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: assigns a
    gap-based ``session_id`` to EVERY event (unlike
    :func:`session_window_agg`, which only emits per-session aggregates).

    Per-key state is (last event epoch-µs, current session counter); each
    micro-batch sorts its rows by event time, continues the counter from
    state, and persists the new state — the streaming twin of
    extras/events.sessionize.  Assumes per-key event-time-ordered arrival
    across batches (out-of-order WITHIN a batch is handled by the sort;
    rows older than a previous batch's last event would need a buffering
    watermark, which this operator intentionally keeps out of scope).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_us = gap_minutes * 60_000_000
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("session_id", LongType()),
    ])
    state_schema = StructType([
        StructField("last_us", LongType()),
        StructField("session_id", LongType()),
    ])

    def assign(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (user,) = key
        last_us, session_id = (
            state.get if state.exists else (None, 0)
        )
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        # vectorized gap detection: a row starts a new session when the
        # time since the previous row (or the persisted last event)
        # exceeds the gap — cumsum of the new-session flags continues
        # the stored counter.  Pure numpy; the original per-row Python
        # loop capped the operator at ~38k rows/s (SCALE.md).
        us = rows[ts_col].values.astype("datetime64[us]").astype("int64")
        prev = np.empty_like(us)
        if len(us):
            prev[1:] = us[:-1]
            # first row: continue from persisted state, or force a new
            # session with an overflow-safe sentinel (int64-min would
            # wrap in the subtraction below)
            prev[0] = (us[0] - gap_us - 1) if last_us is None else last_us
        new_flags = (us - prev) > gap_us
        ids = session_id + np.cumsum(new_flags)
        if len(us):
            state.update((int(us[-1]), int(ids[-1])))
        yield pd.DataFrame({
            "user_id": user,
            "event_id": rows[id_col].values,
            "ts": rows[ts_col].values,
            "session_id": ids,
        })

    src = _with_event_time(events, ts_col).withWatermark(ts_col, watermark)
    return (
        src.groupBy(user_col)
        .applyInPandasWithState(
            assign, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(events: DataFrame, fingerprint_col: Column | str,
                 ts_col: str = "ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication: keep the FIRST event per content
    fingerprint (the streaming twin of ``extras.dedup.exact_dedup``).

    ``dropDuplicatesWithinWatermark`` bounds the dedup state: a
    fingerprint is remembered only until the watermark passes it, so
    state is O(distinct keys per watermark window), not O(all history)
    — the property that makes this run forever on an unbounded firehose.

    Out-of-order / late-arrival contract (measured empirically on
    Spark 4, asserted in
    ``tests/test_streaming.py::test_dedup_stream_late_arrival_contract``):

    - **Guaranteed**: a duplicate whose event time is within
      ``watermark`` of the first-seen event is ALWAYS suppressed,
      however the rows are shuffled across micro-batches.
    - **Dropped**: a row (duplicate or not) whose event time is
      already behind the PREVIOUS micro-batch's watermark is dropped
      before the dedup operator ever sees it — Spark's late-event
      filter lags the eviction watermark by one batch.
    - **Best-effort window between the two**: a duplicate later than
      ``watermark`` but not yet behind the late filter may STILL be
      suppressed, because state eviction runs at batch END — the
      original's state can outlive its nominal expiry by a batch.
      Do not rely on late duplicates being either kept or dropped;
      run a batch ``exact_dedup`` compaction downstream for the long
      tail (that is the explicit trade).

    ``fingerprint_col`` may be a column name or an expression (e.g.
    ``text.fingerprint(F.col("body"))``).
    """
    fp = (F.col(fingerprint_col) if isinstance(fingerprint_col, str)
          else fingerprint_col)
    w = (_with_event_time(events, ts_col)
         .withColumn("__fp", fp)
         .withWatermark(ts_col, watermark))
    return w.dropDuplicatesWithinWatermark(["__fp"]).drop("__fp")


def neardup_stream(docs: DataFrame, text_col: str = "text",
                   ts_col: str = "ts",
                   watermark: str = "1 hour",
                   bits: int = 16) -> DataFrame:
    """Streaming NEAR-duplicate suppression: keep the first document per
    SimHash sketch bucket (the streaming twin of a batch
    ``simhash_df`` + keep-first-per-sketch; promoted from the r5
    composition test to a public operator).

    Near-identical documents — small edits, boilerplate variants —
    produce the SAME ``bits``-bit simhash with high probability, so
    keying :func:`dedup_stream`'s bounded-state
    ``dropDuplicatesWithinWatermark`` on the sketch suppresses them in
    flight.  This is a bucket-granularity filter: two docs in one
    bucket are *probably* near-dups (false-positive rate falls with
    ``bits``), and near-dups split across adjacent buckets are NOT
    caught — it is the cheap first line of defense; run the batch
    MinHash+LSH pipeline (``extras.dedup.neardup_dedup``) downstream
    for verified clustering.

    State is O(distinct sketches inside the watermark horizon) — at
    most ``2^bits`` entries, so a 16-bit sketch caps state at 65k keys
    regardless of stream volume.  The simhash itself is pure Catalyst
    expression work (one tokenization per document, lambda-bound), no
    Python in the hot path.

    Late/out-of-order arrivals follow :func:`dedup_stream`'s contract
    verbatim (guaranteed suppression only within ``watermark``; rows
    behind the previous batch's watermark dropped; a one-batch
    best-effort window in between) — see its docstring and the
    late-arrival tests in ``tests/test_streaming.py``.
    """
    from ..extras.dedup import simhash

    return dedup_stream(
        docs, simhash(F.col(text_col), bits=bits),
        ts_col=ts_col, watermark=watermark,
    )


def span_cut_stream(docs: DataFrame, dup_hashes: DataFrame,
                    text_col: str = "text", *,
                    window: int = 8,
                    hash_col: str = "h",
                    clean_col: str = "clean_text") -> DataFrame:
    """STATELESS streaming span removal: cut every occurrence of a
    reference duplicated-span set out of in-flight documents — the
    streaming companion of ``extras.dedup.substring_dedup``, for
    applying batch-learned boilerplate/duplicate spans
    (``duplicate_spans`` over the reference corpus) at ingestion time.

    Semantics differ from the batch op on purpose: the reference corpus
    already holds the canonical copy of every span in ``dup_hashes``,
    so an arriving occurrence is a duplicate BY CONSTRUCTION and every
    match is cut (no canonical election, hence no cross-batch state —
    the operator is a pure map and composes with any downstream
    watermarked stage).  Adds ``clean_col`` (survivor tokens re-joined
    with single spaces), ``n_tokens_before`` and ``n_tokens_after``.

    Execution shape: ``dup_hashes`` (a BATCH DataFrame; pass
    ``duplicate_spans(reference)`` or any one-column hash set) is
    collected ONCE at plan-build time and ships to executors as a
    broadcast Python set — membership over millions of md5 hashes needs
    an O(1) hash probe, which no Catalyst array expression provides
    (``array_contains`` on a 10^6-element literal is a linear scan per
    window).  The kernel is Arrow-batched ``mapInPandas``; per row it
    hashes n_tokens sliding windows (~1 µs each), ~100k docs/s on 32
    cores — ingestion-rate, not batch-rate: run the batch op for
    backfills.  Broadcast size ≈ 100 B per hash; at 10^7 reference
    spans (~1 GB) prefilter ``dup_hashes`` to spans worth cutting
    (n_occurrences, length) before passing it in."""
    if window < 1:
        raise ValueError("window must be >= 1")
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from ..extras.util import WS_CLASS

    hashes = {r[hash_col] for r in
              dup_hashes.select(hash_col).distinct().collect()}
    bc = docs.sparkSession.sparkContext.broadcast(hashes)
    schema = StructType(
        list(docs.schema.fields)
        + [StructField(clean_col, StringType()),
           StructField("n_tokens_before", LongType()),
           StructField("n_tokens_after", LongType())])

    def kernel(batches):
        import hashlib
        import re

        import pandas as pd

        # mirror extras.text.tokens EXACTLY: Java's \s is ASCII-only
        # (WS_CLASS) while Python's str.split()/re \s are
        # Unicode-aware — a NBSP-containing doc must hash the same
        # windows here as in the batch op that learned dup_hashes
        ws = re.compile(WS_CLASS + "+")
        hs = bc.value
        for pdf in batches:
            clean, nb, na = [], [], []
            for t in pdf[text_col]:
                stripped = (ws.sub(" ", t).strip(" ")
                            if isinstance(t, str) else "")
                toks = stripped.split(" ") if stripped else []
                n = len(toks)
                covered: set = set()
                for p in range(0, n - window + 1):
                    h = hashlib.md5(
                        " ".join(toks[p:p + window]).encode()
                    ).hexdigest()
                    if h in hs:
                        covered.update(range(p, p + window))
                kept = [tok for j, tok in enumerate(toks)
                        if j not in covered]
                clean.append(" ".join(kept))
                nb.append(n)
                na.append(len(kept))
            pdf = pdf.copy()
            pdf[clean_col] = clean
            pdf["n_tokens_before"] = pd.array(nb, dtype="int64")
            pdf["n_tokens_after"] = pd.array(na, dtype="int64")
            yield pdf

    return docs.mapInPandas(kernel, schema)




def _start(w, available_now: bool, trigger_seconds: int | None):
    """Start the DataStreamWriter ``w``: ``available_now`` drains the
    currently-available input and stops, else micro-batch every
    ``trigger_seconds`` (as fast as data arrives when None)."""
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_seconds is not None:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def _maintain_hook(spark, index_path: str, maintain_every: int | None,
                   admit: bool, maintain):
    """Validate an ingest stream's ``maintain_every`` and return its
    per-batch hook: after every batch whose ``batch_id % N == N - 1``
    (id-keyed, so a replayed batch re-fires the same fold idempotently)
    run ``maintain()``, then refresh cached listings of ``index_path`` —
    the maintenance swap is a directory rename outside Spark's write
    path."""
    if maintain_every is not None and maintain_every < 1:
        raise ValueError(f"maintain_every must be >= 1, "
                         f"got {maintain_every}")
    if maintain_every is not None and not admit:
        raise ValueError("maintain_every without admit=True has "
                         "nothing to compact — the stream never "
                         "appends to the index")

    def maintain_due(batch_id: int) -> None:
        if (maintain_every is not None
                and batch_id % maintain_every == maintain_every - 1):
            maintain()
            spark.catalog.refreshByPath(index_path)

    return maintain_due


def neardup_ingest_stream(stream_docs: DataFrame, index_path: str,
                          out_path: str, checkpoint: str, *,
                          threshold: float = 0.7, admit: bool = True,
                          maintain_every: int | None = None,
                          probe_strategy: str = "broadcast",
                          available_now: bool = False,
                          trigger_seconds: int | None = None):
    """Micro-batch ingest dedup against a persisted MinHash-LSH index
    (``extras.dedup.write_minhash_index``): every batch drops arriving
    docs whose estimated Jaccard against an indexed doc reaches
    ``threshold``; survivors land under ``out_path`` as parquet and —
    with ``admit=True`` — their bucket rows are appended to the index,
    so LATER batches dedupe against EARLIER survivors (cross-batch
    first-come-wins).  ``admit=False`` filters every batch against the
    index snapshot only (order-independent — the streamed result equals
    the batch ``neardup_filter_new`` on the same input).

    Duplicates WITHIN one micro-batch both survive either way — LSH
    self-dedup of an increment is the batch op's job
    (``minhash_dedup_pairs``); pre-dedup the increment if intra-batch
    dups matter at your trigger size.

    Delivery contract (foreachBatch = at-least-once side effects):
    - the survivor sink is IDEMPOTENT: each batch overwrites its own
      ``{out_path}/batch=<id>`` partition dir, so a replayed batch
      rewrites, never duplicates (read the root as partitioned parquet;
      the ``batch`` column is the micro-batch id);
    - the index append is SEMANTICALLY idempotent: duplicate bucket
      rows change no lookup result (pairs dedupe on ids, estimates
      depend only on the signatures);
    - a replayed batch must not see ITS OWN admitted rows (it would
      drop all its survivors and overwrite the partition dir with an
      empty result): hits whose index_id belongs to the current batch
      are ignored, which requires GLOBALLY UNIQUE doc ids across the
      stream — the same uniqueness every dedup op here assumes.

    ``maintain_every=N`` (r9) runs
    ``extras.dedup.minhash_index_maintain`` after every batch whose
    ``batch_id % N == N - 1`` (id-keyed — replays re-fire the same
    fold idempotently): replay-duplicate bucket rows are dropped and
    the batch-sized append files compact, via journaled atomic swap
    between micro-batches.  Leave ``None`` when other concurrent
    readers query ``index_path`` directly, and run the maintenance
    manually at a quiet moment.  If an in-stream maintenance dies
    inside its swap window (no directory at ``index_path``),
    restarting this stream repairs it automatically (journal-recovery
    preamble at construction); a DIFFERENT process reading the index
    first should call
    ``extras.dedup.minhash_index_recover(spark, index_path)``.

    ``probe_strategy`` defaults to ``"broadcast"`` (NOT ``"auto"``):
    micro-batch plans from streaming sources often carry no size
    statistics, and auto's stats-unknown fallback would silently
    shuffle the ENTIRE index every trigger — the exact cost profile
    this operator exists to avoid.  Micro-batches are small by
    construction; pass ``"shuffle"`` only for huge backfill triggers.

    Ordering across batches follows the source's batch order (for file
    sources: modification time, then path).  Returns the
    StreamingQuery handle."""
    from pyspark.sql import functions as F

    from ..extras.dedup import (_append_probe_buckets,
                                _probe_buckets,
                                _probe_hits_exists,
                                minhash_index_maintain,
                                minhash_index_recover,
                                read_minhash_meta)

    spark = stream_docs.sparkSession
    # a prior run's in-stream maintenance may have died inside the swap
    # window (no directory at index_path until recovery rolls the
    # journal forward) — run the journal-recovery preamble BEFORE the
    # meta read or a crashed maintain would leave the stream unable to
    # restart (FileNotFound here).  No-op when no journal exists;
    # extras.dedup.minhash_index_recover is the manual entry point for
    # other processes reading a crashed index.
    minhash_index_recover(spark, index_path)
    meta = read_minhash_meta(spark, index_path)
    id_col = meta["id_col"]
    if probe_strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"probe_strategy must be 'broadcast' or "
                         f"'shuffle', got {probe_strategy!r}")
    maintain_due = _maintain_hook(
        spark, index_path, maintain_every, admit,
        lambda: minhash_index_maintain(spark, index_path))

    def process(batch_df, batch_id):
        # the batch is tokenized+minhashed ONCE; the persisted bucket
        # rows feed the lookup, and (admit) the index append
        with owned() as own:
            pb = own.persist(_probe_buckets(meta, batch_df))
            # exists-semantics lane (r14): a batch doc is dropped iff
            # ANY index row outside the batch itself estimates >=
            # threshold — shuffle volume is bounded by the batch's id
            # count even when a huge backfill trigger probes a
            # dup-saturated index (see extras.dedup._probe_hits_exists;
            # recall-identical to the previous pair-lane derivation).
            # The replay protection (ignore hits whose index_id is in
            # the current batch) moves INTO the lane as the map-side
            # exclusion anti-join.
            batch_ids = batch_df.select(F.col(id_col).alias("index_id"))
            drop_ids = _probe_hits_exists(
                spark, index_path, meta, pb, threshold, probe_strategy,
                exclude_index_ids=batch_ids,
            ).select(F.col("probe_id").alias(id_col))
            surv = batch_df.join(drop_ids, on=id_col, how="left_anti")
            surv.write.mode("overwrite").parquet(
                f"{out_path}/batch={batch_id}")
            if admit:
                # append the survivors' already-computed bucket rows;
                # the surviving ids come from the just-committed
                # partition so the append cannot re-trigger the batch
                # computation after the index refresh (same
                # refreshByPath hazard as neardup_filter_new)
                ids = (spark.read.parquet(f"{out_path}/batch={batch_id}")
                       .select(F.col(id_col).alias("probe_id")))
                _append_probe_buckets(
                    index_path, meta,
                    pb.join(ids, on="probe_id", how="left_semi"))
                maintain_due(batch_id)

    w = (stream_docs.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint))
    return _start(w, available_now, trigger_seconds)


def semantic_ingest_stream(stream_vecs: DataFrame, index_path: str,
                           out_path: str, checkpoint: str, *,
                           threshold: float = 0.9, n_probe: int = 2,
                           probe_margin: float | str | None = "auto",
                           admit: bool = True,
                           maintain_every: int | None = None,
                           available_now: bool = False,
                           trigger_seconds: int | None = None,
                           pair_backend: str = "auto"):
    """Micro-batch SEMANTIC ingest dedup against a persisted IVF-PQ
    index (``extras.similarity.write_ivfpq``): the embedding twin of
    :func:`neardup_ingest_stream`.  Every batch assigns arriving
    vectors to their probed coarse cells, reads ONLY those cells'
    partition dirs (literal partition filter — static pruning), drops
    vectors with an indexed cosine-``threshold`` near-dup, writes
    survivors to an idempotent ``{out_path}/batch=<id>`` dir, and —
    ``admit=True`` — PQ-encodes the survivors with the sidecar's model
    and appends them into the index cells, so later batches dedupe
    against earlier survivors (cross-batch first-come-wins).

    Same delivery contract as :func:`neardup_ingest_stream`
    (foreachBatch = at-least-once): idempotent per-batch survivor
    dirs; a replayed batch ignores hits whose index id is in the
    current batch (requires globally unique ids); index-append
    duplicates from a replay are benign for FILTERING (any copy drops
    an arrival) but would surface as duplicate candidates in top-k
    queries over the same index.

    ``maintain_every=N`` closes that operational gap in-stream: after
    every batch whose ``batch_id % N == N - 1`` (id-keyed, so a
    REPLAYED batch re-fires the same fold idempotently instead of
    double-counting), the hook runs
    ``ivfpq_maintain(..., staging_path=None, dedup_ids=True)`` — fold
    the index into a compacted layout with duplicate-id rows dropped,
    journaled atomic swap — inside ``foreachBatch``, i.e. between
    micro-batches, when no other reader this stream owns is mid-query.
    Leave ``None`` (default) when the index only serves ingest
    filtering, or when OTHER concurrent readers query ``index_path``
    directly (the swap's rename window is theirs to coordinate); then
    run ``ivfpq_maintain`` manually at a quiet moment.

    Crash recovery: if the in-stream maintenance dies inside its swap
    window, ``index_path`` temporarily has no directory; restarting
    this stream repairs it automatically (journal-recovery preamble at
    construction).  A DIFFERENT process that reads the index first
    should call ``extras.similarity.ivfpq_recover(spark, index_path)``
    manually.

    ``pair_backend`` (r11): how each batch's candidate cosines are
    evaluated — ``"auto"`` (default) routes to an Arrow/BLAS kernel
    when the projected probe x index pair count exceeds the
    interpreted-work budget (the sf100 soak measured the Catalyst
    expression lane at ~10 min per 1000-vector batch against a
    2M-vector index; the kernel does the same work in seconds),
    ``"sql"`` pins the Python-free expression lane, ``"numpy"`` pins
    the kernel.  See ``extras.similarity._embedding_hit_pairs``."""
    from pyspark.sql import functions as F

    from ..extras.similarity import (_align_to_index_schema,
                                     _embedding_hit_pairs,
                                     _matchable_vec, assign_cells_multi,
                                     ivfpq_encode, ivfpq_maintain,
                                     ivfpq_recover, read_ivfpq_meta)

    spark = stream_vecs.sparkSession
    # a prior run's in-stream maintenance may have died inside the swap
    # window (no directory at index_path until recovery rolls the
    # journal forward) — run the journal-recovery preamble BEFORE the
    # meta read or a crashed maintain would leave the stream unable to
    # restart (FileNotFound here).  No-op when no journal exists;
    # extras.similarity.ivfpq_recover is the manual entry point for
    # other processes reading a crashed index.
    ivfpq_recover(spark, index_path)
    meta = read_ivfpq_meta(spark, index_path)
    if not meta.get("store_vectors"):
        raise ValueError("semantic_ingest_stream needs an index "
                         "written with store_vectors=True")
    # the hook folds away replay-duplicate id rows and compacts the
    # batch-sized append files; staging_path=None (this lane appends
    # directly into the index) and the stream's OWN checkpoint is never
    # touched
    maintain_due = _maintain_hook(
        spark, index_path, maintain_every, admit,
        lambda: ivfpq_maintain(spark, index_path, None, dedup_ids=True))
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    margin = (2.0 * (2.0 * (1.0 - threshold)) ** 0.5
              if probe_margin == "auto" else probe_margin)
    # index column types are fixed for the stream's lifetime: capture
    # the schema ONCE instead of re-listing the index root per batch
    idx_schema = spark.read.parquet(index_path).schema

    def process(batch_df, batch_id):
        with owned() as own:
            probed = own.persist(assign_cells_multi(
                batch_df.select(F.col(id_col), F.col(vec_col)),
                meta.get("_centroids_np", meta["centroids"]),
                n_probe=n_probe, vec_col=vec_col, out_col="__cells",
                probe_margin=margin,
            ).select(F.col(id_col).alias("__pid"),
                     F.col(vec_col).alias("__pv"),
                     F.explode("__cells").alias("cell")))
            hits = _embedding_hit_pairs(spark, index_path, meta,
                                        probed, threshold,
                                        pair_backend=pair_backend)
            if hits is not None:
                batch_ids = batch_df.select(
                    F.col(id_col).alias("__iid"))
                drop_ids = (
                    hits.join(batch_ids, on="__iid", how="left_anti")
                    .select(F.col("__pid").alias(id_col)).distinct()
                )
                surv = batch_df.join(drop_ids, on=id_col,
                                     how="left_anti")
            else:
                surv = batch_df
            surv.write.mode("overwrite").parquet(
                f"{out_path}/batch={batch_id}")
            if admit:
                # ONLY (id, vec): appending the stream's other columns
                # would write mixed COLUMN-SET files into the cell dirs
                # (footer-dependent schema, same class as type drift).
                # Only MATCHABLE rows (no null/NaN vectors, no null
                # encoder cell): unmatchable survivors stay in the
                # batch output but never pollute the index — same
                # contract as embedding_filter_new's admit lane.
                admitted = _align_to_index_schema(
                    spark, index_path,
                    spark.read.parquet(f"{out_path}/batch={batch_id}")
                    .filter(_matchable_vec(vec_col))
                    .select(id_col, vec_col),
                    [id_col, vec_col], index_schema=idx_schema,
                    id_cols=(id_col,))
                ivfpq_encode(
                    admitted, meta["centroids"], meta["codebooks"],
                    vec_col=vec_col, residual=meta["residual"],
                    store_vectors=True,
                ).filter(F.col("cell").isNotNull()) \
                    .write.mode("append").partitionBy("cell") \
                    .parquet(index_path)
                maintain_due(batch_id)

    w = (stream_vecs.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint))
    return _start(w, available_now, trigger_seconds)


def run_to_memory(stream_df: DataFrame, table_name: str,
                  output_mode: str = "append", timeout_sec: int = 120):
    """Drain the stream with availableNow into an in-memory sink and
    return the result as a batch DataFrame — the deterministic way to
    test a streaming plan against its batch twin."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return stream_df.sparkSession.table(table_name)


def write_stream_parquet(stream_df: DataFrame, path: str,
                         checkpoint: str, *,
                         output_mode: str = "append",
                         partition_by: list[str] | None = None,
                         available_now: bool = False,
                         trigger_seconds: int | None = None):
    """Durable parquet sink with exactly-once semantics via the
    checkpoint location (offsets + sink commit log).  At cluster scale
    the checkpoint MUST be on shared storage (S3/HDFS) — it is what
    makes a restarted query resume instead of reprocess.

    ``available_now=True`` drains the currently-available input and
    stops (batch-like backfill); otherwise the query runs continuously,
    micro-batching every ``trigger_seconds`` (or as fast as data
    arrives when None).  Returns the StreamingQuery handle.
    """
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return _start(w, available_now, trigger_seconds)


def ivfpq_append_stream(stream_df: DataFrame, index_path: str,
                        staging_path: str, checkpoint: str, *,
                        vec_col: str = "embedding",
                        available_now: bool = False,
                        trigger_seconds: int | None = None):
    """Continuously ingest a vector stream into a
    ``similarity.write_ivfpq`` index via a STAGING extension: the
    encode transform (coarse cell + residual PQ code) is a pure
    projection, so it runs on the stream unchanged, and the
    checkpointed exactly-once parquet sink writes the same cell=NN
    layout under ``staging_path``.  Query base + appends together with
    ``ivfpq_topk_auto(spark, index_path,
    extra_paths=[staging_path], ...)`` — partition pruning applies to
    both roots.

    Why a staging root instead of appending into the index directory:
    the streaming parquet sink owns its output through a
    ``_spark_metadata`` commit log, and a batch re-read of a directory
    carrying that log returns ONLY log-listed files — streamed appends
    into the base root would silently SHADOW the original index files
    (found by tests/test_streaming.py).  Fold staging into the base
    periodically with a batch rewrite (``sources.sinks.compact_parquet``
    over both roots) and reset the staging dir + checkpoint.

    The quantizer model comes from the index's own sidecar
    (``read_ivfpq_meta``) — streaming appenders never re-derive or
    drift from the model the index was built with.  Returns the
    StreamingQuery handle."""
    from ..extras.similarity import (_align_to_index_schema,
                                     ivfpq_encode, ivfpq_recover,
                                     read_ivfpq_meta)

    spark = stream_df.sparkSession
    # recover a maintenance swap that died between renames (see
    # semantic_ingest_stream) — no-op when no journal exists
    ivfpq_recover(spark, index_path)
    meta = read_ivfpq_meta(spark, index_path)
    # align vector/id types to what the BASE index stores: a
    # double-typed stream staged against a float index would otherwise
    # silently widen the whole index to array<double> at the next
    # maintenance fold — a permanent 2x storage/scan cost on the
    # dominant column
    stream_df = _align_to_index_schema(
        spark, index_path, stream_df, [meta["id_col"], vec_col],
        id_cols=(meta["id_col"],))
    coded = ivfpq_encode(
        stream_df, meta["centroids"], meta["codebooks"],
        vec_col=vec_col, residual=meta["residual"],
        store_vectors=meta["store_vectors"],
    )
    return write_stream_parquet(
        coded, staging_path, checkpoint, partition_by=["cell"],
        available_now=available_now, trigger_seconds=trigger_seconds,
    )


def stream_interval_join(left: DataFrame, right: DataFrame, *,
                         ts_col: str = "ts",
                         by: list[str] | None = None,
                         within: str = "1 hour",
                         watermark: str | None = None,
                         how: str = "inner",
                         suffix: str = "_right") -> DataFrame:
    """Watermarked stream-stream time-range join — the streaming twin of
    ``extras.interval.interval_join``: each left event pairs with every
    right event of the same ``by`` keys whose timestamp lies in
    ``[left.ts - within, left.ts]`` (right happened up to ``within``
    before the left, inclusive).

    Both sides carry a watermark (default: 2x ``within``), which is what
    lets Spark BOUND the join state: a buffered right event can be
    dropped once the watermark guarantees no future left event can still
    match it.  Without the time-range condition + watermarks the state
    grows forever — this wrapper makes the bounded form the only form.

    Output: all left columns + right's non-``by`` columns renamed with
    ``suffix`` on collision.  Inner joins emit as soon as both sides
    arrive; ``how="leftOuter"`` additionally emits unmatched left rows
    after the watermark expires them (Spark requirement: outer
    stream-stream joins need the watermark).
    """
    by = list(by or [])
    wm = watermark or _double_interval(within)
    left_names = set(left.columns)
    renames = {c: (c + suffix if c in left_names else c)
               for c in right.columns}

    l = _with_event_time(left, ts_col).withWatermark(ts_col, wm)
    r0 = _with_event_time(right, ts_col)
    r = r0.select(
        *[F.col(c).alias(renames[c]) for c in right.columns]
    ).withWatermark(renames[ts_col], wm)

    rts = F.col(renames[ts_col])
    cond = (rts <= F.col(ts_col)) & (
        rts >= F.col(ts_col) - F.expr(f"INTERVAL {within}")
    )
    for k in by:
        cond = cond & (l[k] == r[renames[k]])
    out = l.join(r, cond, how)
    return out.drop(*[r[renames[k]] for k in by])


def _double_interval(within: str) -> str:
    """'30 minutes' -> '60 minutes' (default watermark = 2x the join
    window, a safe slack for cross-stream skew)."""
    parts = within.strip().split()
    try:
        n = int(parts[0])
    except (ValueError, IndexError):
        return within
    return " ".join([str(2 * n), *parts[1:]])
