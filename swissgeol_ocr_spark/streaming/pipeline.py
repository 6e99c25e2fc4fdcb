"""Structured Streaming variant of the extraction pipeline.

The reference has no true streaming surface — its API mode is a
request/response wrapper around the same batch processor
(/root/reference/api.py:31-93, utils/task.py:28-62). The streaming-native
equivalent of "documents arrive, get extracted, results are collectable"
is:

    readStream (new spans-table files / Iceberg appends)
      → the SAME extraction kernel via mapInArrow (stateless per document,
        so it is trivially streamable — no watermark needed)
      → writeStream with per-micro-batch checkpointing
        (exactly the reference's at-most-once-per-doc task registry,
        utils/task.py:12-24, but with durable state)

plus a windowed metrics stream standing in for the /collect polling
surface: per-window counts of processed documents and spans.

For raw ingestion (spans arriving as individual out-of-order EVENTS
before documents exist), ``reassemble_spans_stream`` is a custom stateful
operator over ``applyInPandasWithState``: per-doc state accumulation,
at-least-once dedup, completion detection via the declared span count,
processing-time timeout quarantine — then the same batch kernel.

Everything here reuses the batch kernel — one code path, two execution
modes (Spark's own batch/streaming unification).
"""

from __future__ import annotations

import logging
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swissgeol_ocr_spark.plans.config import ExtractConfig
from swissgeol_ocr_spark.plans.pipeline import OUT_SCHEMA, _extract_batches
from swissgeol_ocr_spark.sources.corpus import spans_schema_ddl


def read_spans_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a spans-table directory (new parquet files =
    new documents; Iceberg appends behave the same on a cluster).
    ``max_files_per_trigger`` is the micro-batch width lever: size it so a
    trigger spans at least one input split per core, or the kernel stage
    under-fans (measured in BENCH/STREAMING.md — one FILE per trigger
    turned 4 intended micro-batches into ~128 near-empty ones)."""
    reader = spark.readStream.schema(f"doc_id string, spans {spans_schema_ddl()}")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def extract_stream(stream_df: DataFrame, config: ExtractConfig | None = None) -> DataFrame:
    """Stateless streaming extraction: the batch kernel applied per
    micro-batch. No shuffle, no state store — each document is independent
    (reference processes them one by one, main.py:71)."""
    config = config or ExtractConfig()
    return stream_df.mapInArrow(
        lambda it: _extract_batches(it, config), OUT_SCHEMA
    )


def metrics_stream(extracted: DataFrame, window: str = "1 minute") -> DataFrame:
    """Windowed processing metrics (the /collect polling surface,
    api.py:63-93, as a streaming aggregate): per processing-time window,
    documents and spans processed."""
    return (
        extracted.withColumn("_now", F.current_timestamp())
        .withWatermark("_now", "0 seconds")
        .groupBy(F.window("_now", window))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans_out").alias("n_spans_out"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_docs",
            "n_spans_out",
        )
    )


def span_event_schema() -> str:
    """One span EVENT per row — the raw ingestion shape before documents
    are assembled (a crawler/scanner emits spans as it finds them, out of
    order, possibly duplicated by an at-least-once source). ``n_total`` is
    the document's declared span count (the end-of-document manifest a real
    ingestion protocol carries)."""
    return (
        "doc_id string, kind string, text string, media_ref string, "
        "offset int, page_no int, x0 double, y0 double, x1 double, "
        "y1 double, confidence double, orientation double, n_total int"
    )


_REASSEMBLE_OUT = (
    "doc_id string, kind string, text string, media_ref string, "
    "offset int, status string"
)
_REASSEMBLE_STATE = (
    "kinds array<string>, texts array<string>, medias array<string>, "
    "offsets array<int>, pages array<int>, rects array<double>, "
    "confs array<double>, orients array<double>, n_total int, done boolean"
)


def _make_reassemble(cfg: ExtractConfig, timeout_ms: int):
    """Build the per-group reassembly function (module-level so unit
    tests can drive it directly with a fake GroupState; see
    reassemble_spans_stream for the semantics)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from swissgeol_ocr_spark.operators.extract import (
        extract_document,
        salvage_document_inputs,
    )

    cfg = cfg or ExtractConfig()

    def _emit(doc_id: str, kinds, texts, medias, offsets, pages, rects, confs, orients):
        # assembled order: by offset, ties broken by the full span value —
        # events carry no array position, so this is the deterministic
        # stand-in for the batch kernel's array-position tie-break (only
        # observable for duplicate-offset spans; identical either way when
        # offsets are unique, the normal corpus contract). NaN floats sort
        # as -inf so the key stays a TOTAL order (raw NaN comparisons are
        # non-total and would make the order arrival-dependent again).
        def _sk(v: float) -> float:
            return float("-inf") if v != v else v

        order = sorted(
            range(len(offsets)),
            key=lambda i: (
                offsets[i], pages[i], kinds[i], texts[i], medias[i],
                tuple(_sk(v) for v in rects[4 * i : 4 * i + 4]),
                _sk(confs[i]), _sk(orients[i]),
            ),
        )
        args = (
            [kinds[i] for i in order],
            [texts[i] for i in order],
            [medias[i] for i in order],
            np.asarray(offsets, dtype=np.int64)[order],
            np.asarray(pages, dtype=np.int64)[order],
            np.asarray(rects, dtype=np.float64).reshape(-1, 4)[order],
            np.asarray(confs, dtype=np.float64)[order],
            np.asarray(orients, dtype=np.float64)[order],
        )
        # salvage-then-quarantine, mirroring the batch Arrow driver: a
        # poison document (non-finite geometry, huge offsets) must never
        # kill the streaming query
        try:
            out = extract_document(*args, cfg)
            status = "ok"
        except Exception as exc:
            try:
                out = extract_document(*salvage_document_inputs(*args), cfg)
                status = "salvaged"
            except Exception:
                return pd.DataFrame(
                    {
                        "doc_id": [doc_id], "kind": [""], "text": [""],
                        "media_ref": [""], "offset": [-1],
                        "status": [f"error:{type(exc).__name__}"],
                    }
                )
        return pd.DataFrame(
            {
                "doc_id": [doc_id] * len(out),
                "kind": [k for k, _, _, _ in out],
                "text": [t for _, t, _, _ in out],
                "media_ref": [m for _, _, m, _ in out],
                "offset": [o for _, _, _, o in out],
                "status": [status] * len(out),
            }
        )

    def _num(v, default=0.0):
        # integer key fields (offset/page_no/n_total): null/NaN → default
        # — needed for deterministic dedup keys and the completion count;
        # the values themselves are schema-bounded int32, so no overflow
        if v is None:
            return default
        v = float(v)
        return v if math.isfinite(v) else default

    def _f(v):
        # rect fields: null → NaN (exactly what the batch Arrow driver's
        # to_numpy produces for a null), everything else (incl. inf/NaN)
        # passes through UNTOUCHED so the _emit salvage wrap normalizes it
        # identically to batch (zeroing at intake would skip the salvage
        # corner-swap/clamp and diverge)
        return float("nan") if v is None else float(v)

    def _z(v):
        # confidence/orientation → 0.0 when null OR NaN: pandas delivers a
        # SQL NULL double as NaN, so the two are indistinguishable here;
        # the batch driver's fill_null(0) maps NULL→0 and a genuine NaN
        # (no legitimate producer) would poison its C5 block — treating
        # both as 0 is the parity-preserving choice for real inputs
        if v is None:
            return 0.0
        v = float(v)
        return 0.0 if v != v else v

    def _canon(row):
        # NaN-free twin of an event row, used for dedup-set keys and the
        # duplicate-offset sort tie-break: NaN != NaN would otherwise break
        # both set membership (redeliveries re-counted) and sort totality
        # (arrival-order-dependent output). The STORED values keep their
        # NaN so the salvage wrap sees exactly what batch sees.
        return tuple("NaN" if (isinstance(v, float) and v != v) else v for v in row)

    _DONE = ([], [], [], [], [], [], [], [], -1, True)

    def reassemble(key, pdfs, state: GroupState):
        (doc_id,) = key
        if state.hasTimedOut:
            was_done = state.exists and bool(state.get[-1])
            if was_done:
                # a tombstone (ok- or timeout-path) expiring is not a
                # quarantine; the doc's status row was already emitted
                state.remove()
                return
            # quarantine AND leave a tombstone for one timeout period:
            # without it a straggler span arriving after the quarantine
            # would recreate state and emit a second status row (late 'ok'
            # or duplicate 'timeout') for the same doc_id
            state.update(_DONE)
            state.setTimeoutDuration(timeout_ms)
            yield pd.DataFrame(
                {
                    "doc_id": [doc_id], "kind": [""], "text": [""],
                    "media_ref": [""], "offset": [-1], "status": ["timeout"],
                }
            )
            return

        if state.exists:
            (kinds, texts, medias, offsets, pages, rects, confs, orients,
             n_total, done) = state.get
            if done:
                # already emitted: late redeliveries are ignored; keep the
                # tombstone for one more timeout period
                for _ in pdfs:
                    pass
                state.update(_DONE)
                state.setTimeoutDuration(timeout_ms)
                return
            kinds, texts, medias = list(kinds), list(texts), list(medias)
            offsets, pages = list(offsets), list(pages)
            rects, confs, orients = list(rects), list(confs), list(orients)
        else:
            kinds, texts, medias, offsets, pages = [], [], [], [], []
            rects, confs, orients = [], [], []
            n_total = -1

        # redelivery dedup by FULL event value (distinct spans may share an
        # offset; only a byte-identical event is a redelivery)
        seen = {
            _canon(
                (kinds[i], texts[i], medias[i], offsets[i], pages[i],
                 rects[4 * i], rects[4 * i + 1], rects[4 * i + 2], rects[4 * i + 3],
                 confs[i], orients[i])
            )
            for i in range(len(offsets))
        }
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                nt = _num(r.n_total, -1.0)
                if nt >= 0:
                    n_total = int(nt)
                row = (
                    r.kind or "", r.text or "", r.media_ref or "",
                    int(_num(r.offset)), int(_num(r.page_no)),
                    _f(r.x0), _f(r.y0), _f(r.x1), _f(r.y1),
                    _z(r.confidence), _z(r.orientation),
                )
                ckey = _canon(row)
                if ckey in seen:  # at-least-once redelivery
                    continue
                seen.add(ckey)
                kinds.append(row[0])
                texts.append(row[1])
                medias.append(row[2])
                offsets.append(row[3])
                pages.append(row[4])
                rects.extend(row[5:9])
                confs.append(row[9])
                orients.append(row[10])

        if n_total >= 0 and len(offsets) >= n_total:
            state.update(_DONE)
            state.setTimeoutDuration(timeout_ms)
            yield _emit(doc_id, kinds, texts, medias, offsets, pages, rects, confs, orients)
        else:
            state.update(
                (kinds, texts, medias, offsets, pages, rects, confs, orients,
                 n_total, False)
            )
            state.setTimeoutDuration(timeout_ms)

    return reassemble


def reassemble_spans_stream(
    events: DataFrame,
    config: ExtractConfig | None = None,
    timeout_ms: int = 600_000,
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    assemble out-of-order span events into whole documents and extract
    each document the moment its last span arrives.

    Per doc_id, state accumulates the spans seen so far. Redeliveries from
    an at-least-once source are deduplicated by the FULL event value (two
    genuinely distinct spans may share an ``offset`` — the batch kernel
    supports duplicate offsets, so the event contract does too; only a
    byte-identical event counts as a redelivery). PROTOCOL LIMIT: a
    document that genuinely contains two byte-identical spans is
    indistinguishable from a redelivery without a unique per-span sequence
    number in the ingestion schema — such a document under-counts and
    times out; give the producer a seq field (or fold it into ``offset``)
    if that input class is real. Duplicate-offset spans order by their
    full value (deterministic; the batch kernel's array-position tie-break
    has no analog in an unordered event stream). Null numeric fields get
    the batch salvage rule (null → 0) instead of crashing the query on a
    poison event. When the distinct-span count reaches the declared
    ``n_total``, the batch extraction kernel
    (operators/extract.extract_document — the SAME kernel as batch mode)
    runs on the assembled, offset-ordered arrays and the ordered output
    span sequence is emitted with status 'ok'; the state then holds a
    small DONE tombstone for one timeout period so a late redelivery of an
    already-emitted document is ignored rather than resurrecting state and
    later emitting a spurious quarantine row. A document whose tail never
    arrives times out on the processing-time clock and is quarantined with
    a single status='timeout' marker row (the streaming twin of the batch
    salvage-then-quarantine path).

    Scale shape: one shuffle on doc_id (the state key — the same key the
    batch pipeline buckets by); state size is bounded by in-flight docs ×
    span payload, and the timeout bounds in-flight lifetime."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cfg = config or ExtractConfig()
    reassemble = _make_reassemble(cfg, timeout_ms)

    return events.groupBy("doc_id").applyInPandasWithState(
        reassemble,
        outputStructType=_REASSEMBLE_OUT,
        stateStructType=_REASSEMBLE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def dedup_stream(docs_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup — the `dedup_exact` relation as a continuous
    operator: fingerprint with md5(text), then
    ``dropDuplicatesWithinWatermark`` keyed on the fingerprint. The first
    arrival of each fingerprint within the watermark horizon is emitted
    (keep-first, like the batch keeper); the state store holds one 16-byte
    key per distinct document seen inside the horizon, so state is bounded
    by ingest rate × watermark — not by corpus size — which is what lets
    this run forever on the 10^12-doc feed.

    The processing-time stamp stands in for an ingest-time column; a real
    feed's event time plugs in unchanged."""
    return (
        docs_stream.withColumn("fp", F.md5("text"))
        .withColumn("_ingest", F.current_timestamp())
        .withWatermark("_ingest", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("_ingest")
    )


def sessionize_stream(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming face of the batch ``sessionize`` query: Structured
    Streaming's built-in ``session_window`` with the same gap. A session's
    window is half-open — a follow-up event exactly `gap` after the last
    one starts a NEW session — and the batch query uses ``>=`` on the gap
    for exactly this reason, so the two faces agree event-for-event
    (pinned by tests/test_streaming_multimodal.py equality test; the
    stream's window end is last-event + gap by definition, i.e. batch
    ``session_end + gap``).

    State per key is one open session (start, last-seen, partial aggs).
    Pass ``watermark`` for the deployment shape: append mode then emits a
    session once the event-time watermark passes its close, and the state
    store evicts it — state bounded by active users × horizon, not corpus
    size. Without it (the tests' complete-mode form) sessions are never
    finalized out of state. Watermarks require TIMESTAMP (not NTZ), so
    the watermark path casts through the session timezone and back —
    lossless only under a DST-free session tz (BOTH transition kinds are
    lossy: fall-back's repeated hour is ambiguous on the way in, and
    spring-forward's gap hour shifts forward and comes back moved).
    ``configure_spark`` pins ``spark.sql.session.timeZone=UTC`` for
    exactly this path; a session built without it must pin its own."""
    ts_col = "ts"
    if watermark is not None:
        ts_col = "_ts_evt"
        events_stream = events_stream.withColumn(
            ts_col, F.col("ts").cast("timestamp")
        ).withWatermark(ts_col, watermark)
    win_start = F.col("sw.start")
    win_end = F.col("sw.end")
    if watermark is not None:
        win_start = win_start.cast("timestamp_ntz")
        win_end = win_end.cast("timestamp_ntz")
    return (
        events_stream.withColumn(
            "cents", F.round(F.col("value") * 100).cast("long")
        )
        .groupBy("user_id", F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
        )
        .select(
            "user_id",
            win_start.alias("window_start"),
            win_end.alias("window_end"),
            "n_events",
            "sum_value_cents",
        )
    )


_ASOF_OUT = (
    "click_id long, user_id long, click_ts timestamp_ntz, "
    "matched_view_id long, lag_us long"
)
_ASOF_STATE = "view_id long, view_ts_us long"


def _asof_enrich(key, pdf_iter, state, ttl_ms=None):
    """Per-user as-of state walk (module-level so tests can drive it with
    a fake GroupState): state holds the latest view (id, epoch-µs) seen so
    far in stream order; each click emits that view. Batch slices are
    sorted by (ts, is_probe, event_id) — the batch query's exact tie-break
    — so a same-microsecond view still precedes its click. With ttl_ms
    set, the processing-time timeout is re-armed on every activity and an
    idle user's state is evicted (their next click then matches no view —
    the documented recall trade-off of bounding state)."""
    import pandas as pd

    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return iter(())
    if state.exists:
        view_id, view_ts_us = state.get
    else:
        view_id, view_ts_us = None, None
    out = {k: [] for k in ("click_id", "click_ts", "matched_view_id", "lag_us")}
    # concat BEFORE sorting: the state shuffle hands a group's micro-batch
    # slice as multiple Arrow chunks (arrow.maxRecordsPerBatch = 1024 in
    # configure_spark) with NO cross-chunk ordering — sorting per chunk
    # would walk events out of event-time order for any user with >1024
    # rows in one trigger. The concat is bounded by one user's volume in
    # one micro-batch, the same bound the walk itself needs.
    chunks = list(pdf_iter)
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        # normalize to ns first: Arrow hands pandas datetime64[us] here but
        # datetime64[ns] elsewhere, and a bare astype(int64) silently
        # yields unit-dependent integers
        ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        pdf = pdf.assign(
            _probe=(pdf["event_type"] != "view").astype("int64"),
            _ts_us=ts_us,
        ).sort_values(["_ts_us", "_probe", "event_id"])
        for typ, eid, t_us, ts in zip(
            pdf["event_type"], pdf["event_id"], pdf["_ts_us"], pdf["ts"]
        ):
            if typ == "view":
                view_id, view_ts_us = int(eid), int(t_us)
            elif typ == "click":
                out["click_id"].append(int(eid))
                out["click_ts"].append(ts)
                out["matched_view_id"].append(view_id)
                out["lag_us"].append(
                    None if view_ts_us is None else int(t_us) - view_ts_us
                )
    if view_id is not None or state.exists:
        state.update((view_id, view_ts_us))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
    if not out["click_id"]:
        return iter(())
    n = len(out["click_id"])
    return iter(
        [
            pd.DataFrame(
                {
                    "click_id": pd.Series(out["click_id"], dtype="int64"),
                    "user_id": pd.Series([user_id] * n, dtype="int64"),
                    "click_ts": out["click_ts"],
                    "matched_view_id": pd.Series(
                        out["matched_view_id"], dtype="Int64"
                    ),
                    "lag_us": pd.Series(out["lag_us"], dtype="Int64"),
                }
            )
        ]
    )


def asof_stream(
    events_stream: DataFrame, state_ttl_ms: int | None = None
) -> DataFrame:
    """Streaming face of the batch ``asof_join``: clicks enriched with the
    latest prior-or-equal view per user, as per-user state
    (applyInPandasWithState keyed on user_id; state = ONE (view_id, ts)
    pair per user). By default state is never evicted — bounded by
    ALL-TIME distinct-user cardinality, not 'active' users; pass
    state_ttl_ms to evict idle users via a processing-time timeout (an
    evicted user's later click then matches no view — eviction is a
    recall trade-off, which is why it is opt-in). Correct for per-user
    event-time-ordered feeds (the kafka-partition-by-user deployment
    shape); an out-of-order feed needs a watermark-buffered variant,
    exactly as the batch query's window needs its sort. Equality with the
    batch face is pinned in tests across split micro-batches."""
    import functools

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events_stream.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_asof_enrich, ttl_ms=state_ttl_ms),
            outputStructType=_ASOF_OUT,
            stateStructType=_ASOF_STATE,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


_FUNNEL_OUT = (
    "user_id long, reached_stage int, first_view timestamp_ntz, "
    "first_click_after timestamp_ntz, first_purchase_after timestamp_ntz"
)
_FUNNEL_STATE = "v1_us long, c1_us long, p1_us long"


def _funnel_advance(key, pdf_iter, state, ttl_ms=None):
    """Per-user funnel state walk: (first view, first click at-or-after it,
    first purchase at-or-after that) as three nullable epoch-µs longs.
    Emits ONE row per micro-batch in which the user's stage ADVANCED
    (change-data style) carrying the full first-reach triple — downstream
    keeps the latest row per user. Batch slices sort by (ts, event_id),
    the batch query's walk order."""
    import pandas as pd

    def _stage(v1, c1, p1):
        return (
            3 if p1 is not None else 2 if c1 is not None
            else 1 if v1 is not None else 0
        )

    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return iter(())
    v1, c1, p1 = state.get if state.exists else (None, None, None)
    stage0 = _stage(v1, c1, p1)
    # concat before sorting — chunks carry no cross-chunk order (see
    # _asof_enrich)
    chunks = list(pdf_iter)
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        pdf = pdf.assign(_ts_us=ts_us).sort_values(["_ts_us", "event_id"])
        for typ, t in zip(pdf["event_type"], pdf["_ts_us"]):
            if typ == "view" and v1 is None:
                v1 = int(t)
            elif typ == "click" and v1 is not None and c1 is None:
                c1 = int(t)
            elif typ == "purchase" and c1 is not None and p1 is None:
                p1 = int(t)
    stage = _stage(v1, c1, p1)
    if stage == stage0:
        if ttl_ms is not None and state.exists:
            state.update((v1, c1, p1))  # re-arm the idle clock on activity
            state.setTimeoutDuration(ttl_ms)
        return iter(())
    state.update((v1, c1, p1))
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)

    def _ts(us):
        return pd.NaT if us is None else pd.Timestamp(us, unit="us")

    return iter(
        [
            pd.DataFrame(
                {
                    "user_id": pd.Series([user_id], dtype="int64"),
                    "reached_stage": pd.Series([stage], dtype="int32"),
                    "first_view": [_ts(v1)],
                    "first_click_after": [_ts(c1)],
                    "first_purchase_after": [_ts(p1)],
                }
            )
        ]
    )


def funnel_stream(
    events_stream: DataFrame, state_ttl_ms: int | None = None
) -> DataFrame:
    """Streaming face of the batch ``funnel_stages`` query, change-data
    style: a row per (user, micro-batch) where the funnel stage advanced;
    the latest row per user is the batch result for users past stage 0.
    State is three nullable epoch-µs longs per user; by default never
    evicted (bounded by ALL-TIME user cardinality), opt-in idle eviction
    via state_ttl_ms — an evicted user's funnel restarts, the same recall
    trade-off as ``asof_stream``. Same in-order-feed contract too."""
    import functools

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events_stream.filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_funnel_advance, ttl_ms=state_ttl_ms),
            outputStructType=_FUNNEL_OUT,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


# Largest micro-batch (in exact-collapsed representatives) that still takes
# the broadcast-probe path in minhash_neardup_stream. 1M fp strings ≈ tens
# of MB broadcast — far under driver memory and the 8GB BroadcastExchange
# hard limit; anything larger is a backlog bootstrap, not a micro-batch,
# and falls back to plain shuffle joins.
_PROBE_MAX_REPS = 1_000_000

# Directory-partition fan-out of the accumulated near-dup indexes (round-5
# verdict #2): the per-trigger index READ was the last O(history) term in
# the steady state — shuffle/join work was already O(touched buckets), but
# the scan feeding it read every index file every trigger. Both indexes are
# therefore written partitioned by a hash prefix of their probe key
# (bpfx = pmod(xxhash64(band_key), N) for the band index, fpfx likewise
# over fp for the exact-dup index) and each trigger pushes its touched
# prefixes into the read as a partition filter — the scan prunes to the
# probed directories (O(min(touched, N)/N of history), while a stream
# whose batches touch every prefix degrades gracefully to the full scan).
# 64 keeps per-trigger file counts sane locally; production should size it
# so history/N stays a few hundred MB per directory.
_INDEX_PARTS = int(os.environ.get("SPARK_GRAFT_NEARDUP_INDEX_PARTS", "64"))


def _try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet path, returning None ONLY for path-not-found (the
    legitimate first-trigger state); any other AnalysisException — schema
    corruption, a file-format error — re-raises instead of masquerading
    as an empty index (ADVICE round 5)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            try:
                cond = getattr(e, attr)()
            except Exception:
                cond = None
            if cond:
                break
        if cond == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def _pruned_index_read(
    spark: SparkSession, path: str, pfx_col: str, prefixes: "list[int] | None"
) -> DataFrame | None:
    """Partition-pruned read of an accumulated index table: with a
    micro-batch-sized prefix list (bounded by _INDEX_PARTS values,
    collected from an already-checkpointed micro-batch relation) the scan
    touches only the probed directories via PartitionFilters. ``None``
    prefixes (the backlog fallback) reads everything."""
    df = _try_read_parquet(spark, path)
    if df is None or prefixes is None:
        return df
    return df.filter(F.col(pfx_col).isin(prefixes))


def minhash_neardup_stream(
    docs_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    cap: int | None = None,
):
    """Incremental banded near-dup — the last operator family that had no
    streaming story (round-4 verdict #3): ``dedup_minhash_lsh`` as a
    continuous operator over a (doc_id, text) document feed.

    ``foreachBatch`` against the committed band index, per micro-batch:

    1. collapse the batch's exact duplicates (keeper = min doc_id within
       the batch — the causal stand-in for the batch keep-first rule);
    2. drop documents whose text fingerprint is already indexed (exact
       duplicates of an indexed representative — the streaming face of
       ``textops.exact_collapse``, so a k-wide boilerplate cluster costs
       one index row total across the whole stream, never k banded rows);
    3. band the genuinely-new representatives
       (``textops.minhash_band_relation`` — the SAME banding as batch) and
       join them against accumulated ∪ new band rows to emit each
       candidate pair exactly once: a pair surfaces in the batch where its
       LATER member arrives, so no cross-batch dedup state is needed;
    4. cap: band keys whose CUMULATIVE representative population exceeds
       ``cap`` are routed out (prefix-greedy twin of
       ``textops.cap_band_buckets`` — pairs admitted before a bucket went
       hot stay emitted; batch re-runs decide from the full population);
    5. append the new representatives' band rows to the index.

    Output rows are (a_id, b_id) with a_id < b_id; multiplicities are the
    exact-dedup stream's concern (``dedup_stream``). Equality with the
    batch pair set (given id-ordered arrival and under-cap buckets) is
    pinned by tests/test_streaming_multimodal.py.

    Scale shape: in the micro-batch regime (batch representatives ≤
    ``_PROBE_MAX_REPS``) the accumulated index is neither SHUFFLED nor
    fully SCANNED — the exact-dup filter and the band census/pair join
    semi-join the index against broadcast micro-batch-sized key sets (the
    batch's fps / its touched band keys), and since round 6 both index
    tables are directory-partitioned by a hash prefix of their probe key
    (``_INDEX_PARTS``; band index under ``index_path``, exact-dup fp
    index under ``index_path + '_fp'``) with the trigger's touched
    prefixes pushed into the read as partition filters — the scan prunes
    to the probed directories, closing the last O(history) per-trigger
    term (round-5 verdict #2; pinned by
    tests/test_streaming_multimodal.py::test_streaming_neardup_index_prunes).
    All shuffle and join work is O(index rows in touched buckets). A
    backlog-sized batch (e.g. a fresh
    checkpoint over a full directory with no maxFilesPerTrigger) exceeds
    the guard and falls back to plain shuffle joins — correct at any
    size, like the batch face. The index grows one row per (distinct
    text × 4 bands) — the same relation the batch job banded, accumulated
    incrementally. Over-cap (hot) touched buckets trip a per-trigger
    warning — the streaming half of the batch face's ``dedup_band_guard``
    tripwire."""
    from swissgeol_ocr_spark.functions import textops
    from swissgeol_ocr_spark.plans.config import DedupConfig

    cap_v = cap if cap is not None else DedupConfig().band_bucket_cap

    fp_index_path = index_path.rstrip("/") + "_fp"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # eager checkpoint: the strategy choice below needs a count, and
        # the collapse's groupBy must not re-run for it
        reps = (
            textops.exact_collapse(batch_df.select("doc_id", "text"))
            .withColumn("fp", F.md5("text"))
            .localCheckpoint(eager=True)
        )
        # forced broadcasts have no size safety net (driver memory + the
        # 8GB BroadcastExchange hard limit) — only probe when the batch is
        # actually micro-batch-sized; a backlog-sized batch (fresh
        # checkpoint, no maxFilesPerTrigger) takes the shuffle joins
        probe = reps.count() <= _PROBE_MAX_REPS
        # touched fp-prefixes, collected from the checkpointed micro-batch
        # (≤ _INDEX_PARTS values — config-bounded, like the tripwire rows):
        # the exact-dup index read prunes to the probed directories
        fp_pfx = (
            [
                r[0]
                for r in reps.select(
                    F.pmod(F.xxhash64("fp"), F.lit(_INDEX_PARTS)).alias("p")
                )
                .distinct()
                .collect()
            ]
            if probe
            else None
        )
        idx_fp = _pruned_index_read(spark, fp_index_path, "fpfx", fp_pfx)
        if idx_fp is not None and probe:
            # exact-dup filter as a broadcast PROBE, not an index shuffle:
            # only the batch's own fingerprints can match, so semi-join the
            # (partition-pruned) fp index down to them, then anti-join the
            # micro-batch against that micro-batch-sized survivor set
            known_fps = (
                idx_fp.select("fp")
                .join(F.broadcast(reps.select("fp").distinct()), "fp", "left_semi")
                .distinct()
            )
            new_reps = reps.join(F.broadcast(known_fps), "fp", "left_anti")
        elif idx_fp is not None:
            new_reps = reps.join(idx_fp.select("fp").distinct(), "fp", "left_anti")
        else:
            new_reps = reps
        new_reps = new_reps.localCheckpoint(eager=True)  # read idx BEFORE appending
        # pin=False: a micro-batch is a few just-checkpointed rows; the
        # batch-side width pin would cost an exchange + ~32 near-empty
        # tasks per trigger. Eager checkpoint: touched, the census union,
        # the pair join's new side, and the index append all consume this
        # relation — without the cut each would re-run the shingle-md5
        # banding (no common-subplan elimination, CLAUDE.md).
        banded_new = (
            textops.minhash_band_relation(new_reps, pin=False)
            .join(new_reps.select("doc_id", "fp"), "doc_id")
            .localCheckpoint(eager=True)
        )
        # probe ONLY the buckets this batch touches: a pair needs a new
        # member, so untouched buckets can neither pair nor change
        # admission, and cumulative counts per touched key are unchanged.
        # Broadcasting the micro-batch-sized key set keeps the index probe
        # shuffle-free, and the band index READ prunes to the touched
        # band-key prefixes (round-5 verdict #2 — the scan is no longer
        # O(history) per trigger).
        touched = banded_new.select("band_key").distinct()
        b_pfx = (
            [
                r[0]
                for r in banded_new.select(
                    F.pmod(F.xxhash64("band_key"), F.lit(_INDEX_PARTS)).alias("p")
                )
                .distinct()
                .collect()
            ]
            if probe
            else None
        )
        idx = _pruned_index_read(spark, index_path, "bpfx", b_pfx)
        old_touched = (
            idx.select("doc_id", "band_key").join(
                F.broadcast(touched) if probe else touched,
                "band_key",
                "left_semi",
            )
            if idx is not None
            else banded_new.select("doc_id", "band_key").limit(0)
        )
        # eager checkpoint: census, both pair-join sides, and the skew
        # alarm all consume this relation — Spark has no common-subplan
        # elimination, so without the cut each consumer would re-probe
        # the index (the multi-consumer trap, CLAUDE.md)
        all_banded = old_touched.unionByName(
            banded_new.select("doc_id", "band_key")
        ).localCheckpoint(eager=True)
        census = all_banded.groupBy("band_key").agg(F.count("*").alias("_n"))
        admitted = census.filter(F.col("_n") <= cap_v).select("band_key")
        # the tripwire half of the batch face's dedup_band_guard (round-4
        # verdict #5), per trigger: hot buckets are routed out silently by
        # the cap — surface them before they silently cost recall
        over = census.filter(F.col("_n") > cap_v).agg(
            F.count("*").alias("n_over"), F.max("_n").alias("max_bucket")
        ).collect()[0]
        if over.n_over:
            logging.getLogger("swissgeol_ocr_spark.dedup").warning(
                "dedup band skew [stream batch %s]: %s touched bucket(s) "
                "exceed band_bucket_cap=%s (max %s) — routed out of the "
                "pair join (recall cost; see dedup_band_guard)",
                batch_id, over.n_over, cap_v, over.max_bucket,
            )
        newk = banded_new.join(admitted, "band_key", "left_semi")
        allk = all_banded.join(admitted, "band_key", "left_semi")
        pairs = (
            newk.alias("a")
            .join(
                allk.alias("b"),
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("a_id"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("b_id"),
            )
            .distinct()
        )
        pairs.write.mode("append").parquet(pairs_path)
        # append the new rows partitioned by their probe-key prefixes so
        # the NEXT trigger's reads can prune (see _INDEX_PARTS)
        banded_new.select("doc_id", "fp", "band_key").withColumn(
            "bpfx", F.pmod(F.xxhash64("band_key"), F.lit(_INDEX_PARTS))
        ).write.partitionBy("bpfx").mode("append").parquet(index_path)
        new_reps.select("fp").withColumn(
            "fpfx", F.pmod(F.xxhash64("fp"), F.lit(_INDEX_PARTS))
        ).write.partitionBy("fpfx").mode("append").parquet(fp_index_path)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint_path: str,
    config: ExtractConfig | None = None,
    max_files_per_trigger: int | None = None,
):
    """End-to-end streaming job: spans-dir → extraction → parquet sink with
    checkpoint/resume (exactly-once file sink semantics replace the
    reference's skip-existing anti-join in streaming mode)."""
    stream = read_spans_stream(spark, in_path, max_files_per_trigger)
    extracted = extract_stream(stream, config)
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def full_pipeline_writer(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    config: ExtractConfig | None = None,
    repartition: bool = True,
):
    """foreachBatch writer running the FULL batch pipeline (the kernel,
    plus page-split/reassemble for mega docs) per micro-batch. The
    stateless ``extract_stream`` sink cannot split a
    mega document — one above-cutoff doc would serialize its whole trigger
    into a single task — so feeds that can contain mega docs route through
    this writer instead (submit_extract_stream --mode batch).

    Semantics: AT-LEAST-ONCE (parquet append is not transactional with the
    checkpoint commit — a crash between them replays one micro-batch on
    restart; dedup downstream on doc_id, the skip-existing anti-join of
    reference ocr/target.py:29-33, or accept duplicates). A clean restart
    against a drained checkpoint re-processes nothing."""
    from swissgeol_ocr_spark.plans.pipeline import extract_pipeline

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # repartition: a micro-batch arrives with file-source
        # partitioning. True (default) adds the pipeline's hash(doc_id)
        # exchange — right for lumpy feeds (few/skewed files per
        # trigger). False skips a full per-trigger shuffle when the
        # ingest writes well-spread files (≥ cores input splits per
        # trigger) — the same steady-state lever as the batch job; the
        # mega subtree keeps its own exchange either way, and output is
        # pinned bit-identical across both settings.
        extract_pipeline(
            batch_df, config=config, repartition=repartition
        ).write.mode("append").parquet(out_path)

    return stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )


def run_stream_full_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint_path: str,
    config: ExtractConfig | None = None,
    max_files_per_trigger: int | None = None,
    repartition: bool = True,
):
    """Bounded (availableNow) drain of ``full_pipeline_writer`` — the
    mega-doc-safe twin of ``run_stream_to_parquet``."""
    stream = read_spans_stream(spark, in_path, max_files_per_trigger)
    return (
        full_pipeline_writer(
            stream, out_path, checkpoint_path, config, repartition
        )
        .trigger(availableNow=True)
        .start()
    )
