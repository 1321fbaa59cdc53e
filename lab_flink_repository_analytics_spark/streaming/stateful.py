"""Custom stateful streaming operators (``applyInPandasWithState``).

The one reference operator whose semantics are a keyed state machine rather
than a windowed aggregate — ``GetEmailAliasesAndCompany``
(sql-functions/src/main/java/com/ververica/platform/sql/functions/
GetEmailAliasesAndCompany.java:38-123) — maintained *incrementally* here:
per-person state (alias set, current company domain, company-since) lives
in the streaming state store and is updated per micro-batch, mirroring the
reference's accumulator exactly (the batch twin is
``functions.aggregate.get_email_aliases_and_company``).

Scale notes: state is partitioned by key across executors (RocksDB state
store provider at scale); each micro-batch touches only the keys present in
the batch; output mode ``update`` emits refreshed profiles only.  Ordering:
rows *within* a batch are folded in event-time order; across batches,
arrival order governs — which is precisely the reference's semantics (its
accumulator sees Kafka arrival order).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lab_flink_repository_analytics_spark.functions.aggregate import (
    COMPANY_EXCLUDES,
    VERVERICA_ALIASES_PATTERN,
)

PROFILE_SCHEMA = (
    "person string, aliases array<string>, company string, companySince timestamp"
)
_STATE_SCHEMA = "aliases array<string>, company string, since timestamp"
_EXCLUDES = frozenset(COMPANY_EXCLUDES)


def _domain(email: str) -> str | None:
    """Domain after the last '@', None when absent/empty (ref :102-104)."""
    if email is None or "@" not in email:
        return None
    dom = email.rsplit("@", 1)[-1]
    return dom or None


def _fold_profile(aliases, company, since, pdfs):
    """The shared accumulate() fold (ref GetEmailAliasesAndCompany.java:
    38-123): event-time order within the batch, ties by email."""
    batch = pd.concat(list(pdfs))
    batch = batch.sort_values(["ts", "email"])
    for email, ts in zip(batch["email"], batch["ts"]):
        if email is None or (isinstance(email, float) and pd.isna(email)):
            continue
        if email not in aliases:
            aliases.append(email)
        dom = _domain(email)
        # same accumulate() rule as the batch fold: a non-excluded domain
        # that differs from the current company changes it and stamps since
        if dom is not None and dom.lower() not in _EXCLUDES and dom != company:
            company = dom
            since = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
    return aliases, company, since


def _profile_row(key: tuple, aliases, company, since) -> pd.DataFrame:
    shown = (
        re.sub(VERVERICA_ALIASES_PATTERN, "ververica.com", company)
        if company is not None
        else None
    )
    return pd.DataFrame(
        [
            {
                "person": key[0],
                "aliases": aliases,
                "company": shown,
                "companySince": since,
            }
        ]
    )


def _update_profile(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        aliases, company, since = state.get
        aliases = list(aliases)
    else:
        aliases, company, since = [], None, None

    aliases, company, since = _fold_profile(aliases, company, since, pdfs)
    state.update((aliases, company, since))
    yield _profile_row(key, aliases, company, since)


def email_profiles_stream(emails: DataFrame) -> DataFrame:
    """Incremental per-person profile stream.

    ``emails`` needs columns ``person`` (group key), ``email``, ``ts``.
    Returns an update stream of ``PROFILE_SCHEMA`` rows — one refreshed
    profile per person per micro-batch that touched them.
    """
    return (
        emails.select("person", "email", "ts")
        .groupBy("person")
        .applyInPandasWithState(
            _update_profile,
            PROFILE_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


_PAIR_SCHEMA = "id_a bigint, id_b bigint, band_key string, est_jaccard double"
_BAND_STATE_SCHEMA = "ids array<long>, sigs array<string>"

#: Per-bucket state cap — a hot bucket (boilerplate shingles) stops
#: accumulating after this many docs instead of growing without bound.
MAX_BUCKET_STATE = 1000


def _update_band(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        ids, sigs = state.get
        ids = list(ids)
        sigs = [tuple(int(x) for x in s.split(",")) for s in sigs]
    else:
        ids, sigs = [], []

    out: list[dict] = []
    batch = pd.concat(list(pdfs)).sort_values("id")
    for doc_id, sig_list in zip(batch["id"], batch["sig"]):
        sig = tuple(int(x) for x in sig_list)
        doc_id = int(doc_id)
        for seen_id, seen_sig in zip(ids, sigs):
            if seen_id == doc_id:
                continue
            matching = sum(1 for a, b in zip(sig, seen_sig) if a == b)
            a, b = sorted((seen_id, doc_id))
            out.append(
                {
                    "id_a": a,
                    "id_b": b,
                    "band_key": key[0],
                    "est_jaccard": matching / len(sig),
                }
            )
        if len(ids) < MAX_BUCKET_STATE and doc_id not in ids:
            ids.append(doc_id)
            sigs.append(sig)

    state.update((ids, [",".join(str(x) for x in s) for s in sigs]))
    yield pd.DataFrame(
        out, columns=["id_a", "id_b", "band_key", "est_jaccard"]
    )


def minhash_dedup_stream(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Streaming near-duplicate candidates via stateful MinHash-LSH banding.

    Each incoming doc computes its signature per-row (pure expressions, no
    shuffle), explodes into LSH band keys, and is checked against the
    **accumulated** members of each band bucket held in keyed streaming
    state — so near-dups are caught across micro-batches, not just within
    one.  Emits ``(id_a, id_b, band_key, est_jaccard)`` candidate rows
    (estimate = matching signature positions / N_PERMS); exact-Jaccard
    verification stays a batch follow-up on the candidate log.

    Scale: state is per band bucket, distributed by bucket key; hot
    buckets stop absorbing members at ``MAX_BUCKET_STATE`` (boilerplate
    shingles would otherwise grow one bucket without bound).
    """
    from lab_flink_repository_analytics_spark.datapipe import dedup as DD

    # Shingle hashes staged into a column so each of the N_PERMS
    # permutation transforms reads a bound attribute instead of
    # re-shingling + re-hashing the document per permutation.
    banded = docs.select(
        F.col(id_col).alias("id"),
        F.transform(DD.shingles(text_col), DD.md5_hash32).alias("_h"),
    ).select(
        "id",
        DD.minhash_signature_from_hashes(F.col("_h")).alias("sig"),
    ).select(
        "id",
        "sig",
        F.explode(DD.minhash_band_keys(F.col("sig"))).alias("band_key"),
    )
    return banded.groupBy("band_key").applyInPandasWithState(
        _update_band,
        _PAIR_SCHEMA,
        _BAND_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def exact_dedup_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    fingerprint_col: str = "fp",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first doc per content fingerprint survives.

    Built on ``dropDuplicatesWithinWatermark`` so the fingerprint state is
    garbage-collected once the watermark passes — bounded state at 100 TB
    stream scale, unlike an unbounded ``dropDuplicates``.
    """
    return docs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [fingerprint_col]
    )


# ---------------------------------------------------------------------------
# Incremental per-key integer EWMA (streaming twin of
# datapipe/timeseries.py::ewma_int_df)

EWMA_SCHEMA = "user_id bigint, n_events bigint, ewma_scaled bigint"
_EWMA_STATE_SCHEMA = "n bigint, y bigint"


def _ewma_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Fold this batch's (ord-sorted) scaled values into (n, y) state.

    Same bit-exact recurrence as the batch operator — α=1/5,
    y = (4·y + x) DIV 5 over half-up ×1000 fixed-point values — so a
    stream replay of any prefix equals the batch fold of that prefix.
    Within a batch rows fold in event order; across batches arrival order
    governs (the Flink keyed-stream contract).
    """
    (user_id,) = key
    n, y = state.get if state.exists else (0, None)
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for v in batch["value"]:
        x = int(v * 1000 + 0.5)  # half-up: non-negative values by contract
        y = x if y is None else (4 * y + x) // 5
        n += 1
    state.update((n, y))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "ewma_scaled": [y]})


def ewma_stream(events: DataFrame) -> DataFrame:
    """Update-mode stream of per-user EWMA state (``EWMA_SCHEMA``); one
    refreshed row per user per micro-batch that touched them.  State per
    key is two scalars — the minimal-footprint end of the keyed-state
    spectrum (RocksDB at scale, TTL via timeout for dormant keys)."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_update,
            EWMA_SCHEMA,
            _EWMA_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming quota fill — incremental twin of the batch token-budget fill
# (queries/analytics_extra.py::quota_fill / quota_fill_counts)

QUOTA_FILL_SCHEMA = (
    "source string, token_quota bigint, n_docs_selected bigint, "
    "n_tokens_selected bigint"
)
_QUOTA_STATE_SCHEMA = "cum bigint, n_sel bigint, tok_sel bigint"


def _quota_fill_update(quotas: dict):
    """Build the per-source state-update fn closed over the (static,
    #sources-sized) quota map — the stream analog of the batch query's
    broadcast quota join."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (source,) = key
        quota = int(quotas.get(source, 0))
        cum, n_sel, tok_sel = state.get if state.exists else (0, 0, 0)
        # within a batch rows fold in the batch operator's salted-md5
        # order; across batches arrival order governs (the keyed-stream
        # contract, same as ewma_stream / the reference's accumulators)
        batch = pd.concat(list(pdfs)).sort_values(["h", "doc_id"])
        for n_tokens in batch["n_tokens"]:
            n_tokens = int(n_tokens)
            if cum < quota:  # boundary-crossing doc is included
                n_sel += 1
                tok_sel += n_tokens
            cum += n_tokens
        state.update((cum, n_sel, tok_sel))
        yield pd.DataFrame(
            {
                "source": [source],
                "token_quota": [quota],
                "n_docs_selected": [n_sel],
                "n_tokens_selected": [tok_sel],
            }
        )

    return update


def quota_fill_stream(docs: DataFrame, quotas: dict) -> DataFrame:
    """Update-mode stream executing a FIXED token budget over a drifting
    corpus: per source, keep admitting documents until the cumulative
    token count reaches the source's quota (the crossing document is
    included — identical rule to the batch fill, which admits while
    ``cum - n_tokens < token_quota``).

    ``docs`` is a streaming (source, doc_id, text) frame; ``quotas`` maps
    source → token budget (#sources entries, the output of the batch
    ``mixture_token_quotas`` planner — static per deployment, so a plain
    broadcast-closure value, not a stream-stream join).  State per key is
    three scalars; tokenization and the salted-md5 ordering hash are
    computed JVM-side with built-ins before the stateful fold, so the
    Python path only folds three counters per row."""
    from lab_flink_repository_analytics_spark.datapipe.text import md5_hash32

    h = md5_hash32(F.concat(F.lit("quota"), F.col("doc_id").cast("string")))
    per_doc = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    return per_doc.groupBy("source").applyInPandasWithState(
        _quota_fill_update(quotas),
        QUOTA_FILL_SCHEMA,
        _QUOTA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def windowed_dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window: str = "1 hour",
    delay: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``datapipe.dedup.windowed_dedup``: keep the first
    event per key per tumbling event-time window.

    Deliberately ZERO custom state code — the engine-managed path: bucket
    to the tumbling window (as a plain epoch-seconds start, so the raw
    event-time column stays the stream's ONE event-time attribute),
    watermark by ``delay``, and ``dropDuplicatesWithinWatermark`` over
    (window_start, keys).  The state store holds one entry per live
    (window, key) group and the watermark evicts a group once it passes
    the group's first event time + ``delay`` — bounded state at any
    scale, exactly the managed analog of the reference's keyed source
    checkpointing (GithubCommitSource.java:148-166: progress state lives
    with the engine, not the operator).

    Parity contract with the batch twin (smallest (ts, order) per group):
    streaming dedup keeps the first ARRIVAL, so the two agree whenever
    events arrive in event-time order per key — the keyed-stream contract
    shared by ``ewma_stream``/``quota_fill_stream`` and the reference's
    accumulator semantics.  ``delay`` must be ≥ the window size so a
    window that straddles a micro-batch boundary still has live state
    when its remaining rows arrive.  Append-mode output: admitted rows
    emit in their own batch (dedup never waits for the watermark to
    emit, only to evict)."""
    wstart = F.unix_timestamp(
        F.window(F.col(ts_col), window).getField("start")
    )
    return (
        df.withWatermark(ts_col, delay)
        .withColumn("__wstart", wstart)
        .dropDuplicatesWithinWatermark(["__wstart", *key_cols])
        .drop("__wstart")
    )
