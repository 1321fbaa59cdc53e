"""Similarity search over embedding columns (``array<float>``).

The four ANN top-k operators (brute force, LSH, IVF, hard negatives) share
one plan (:func:`_ann_topk`): a bounded query set is driver-held and
scored in one Arrow pass over the candidates, with the LSH bucket or the
IVF inverted list as a per-query key mask; an unbounded one is broadcast
into a join.  Both end in one per-query ranking window (:func:`_ranked`).

Width contract: every vector kernel takes the embedding width as a
required ``dim`` (the caller's table contract) or measures it from the
model state it already holds (a quantizer's widest centroid), so each
kernel has one width-pinned plan — codegen :func:`flat_dot` chains, flat
per-dimension aggregates, or the NumPy Arrow scorers.  The width-agnostic
:func:`dot` fold remains only where a plan must score vectors of unknown
width (:func:`_join_assignments`, the routed level of
:func:`hierarchical_assignments`) and for :func:`mean_pairwise_cosine`'s
norms and self-dots.  :func:`covariance_matrix` needs no width: its one
Arrow pass groups each batch's rows by width and sums their products as
exact int64 fixed-point limbs (:func:`_np_limbs`, the one limb rule), so
no plan expands a row into its dim² pairs.

NULL contract, the DuckDB oracles' (``x/0`` and an out-of-range ``v[i]``
are NULL there): a zero divisor or a row outside the width contract
gives a NULL cosine (:func:`_np_cosine`, or a guarded divide), and every
ranking is ``ORDER BY cs DESC, id`` with NaN first and NULL last.

All float math is double-precision with a fixed left-to-right fold order so
the DuckDB oracle can reproduce scores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _lit_d(x: float) -> str:
    """SQL text of a double literal with the EXACT bits of ``x``.

    ``repr`` emits the shortest decimal string that round-trips to the
    same IEEE double in any correctly-rounded parser — Spark's
    string→DOUBLE cast included — so ``CAST('<repr>' AS DOUBLE)`` folds
    to a literal bit-identical to ``F.lit(x)`` without a py4j call.
    Non-finite values have engine-specific spellings; callers here only
    inline finite model state (hyperplanes, sketch matrices)."""
    import math

    if not math.isfinite(x):
        raise ValueError(f"non-finite literal not inlineable: {x!r}")
    return f"CAST('{x!r}' AS DOUBLE)"


def _lit_array_d(vals) -> str:
    """SQL text of an ARRAY<DOUBLE> literal (see :func:`_lit_d`)."""
    return "array(" + ", ".join(_lit_d(float(v)) for v in vals) + ")"


def _dot_text(a: str, b: str) -> str:
    """SQL text of :func:`dot` — the IDENTICAL zip_with + left-fold
    aggregate expression, built as one string so constructing a
    many-term expression costs one ``F.expr`` parse instead of
    thousands of py4j round-trips (measured ~1s per 64-wide dot built
    element-by-element from Python — pure driver-side chatter)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE)"
        " * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a_i·b_i as a left-to-right double fold (deterministic order)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_text(_quote_ident(a), _quote_ident(b)))
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def flat_dot(a: str, b: str, dim: int, parts: int = 1) -> Column:
    """Bit-identical to :func:`dot` for ``dim``-wide arrays, unrolled as a
    flat left-associated sum of ``a[i]·b[i]`` terms over two column names
    (dotted names like ``l.v`` are qualified references).

    Why it exists: ``F.aggregate``/``F.zip_with`` lambdas are evaluated
    per-element by the interpreted HigherOrderFunction path — outside
    whole-stage codegen — which made the pair-scan cosine the entire cost
    of SemDeDup at the 100× rehearsal (123s of a 105s+profile query; the
    98M-pair join itself took 1.7s).  A fixed-width chain of GetArrayItem
    · cast · multiply · add compiles into the surrounding codegen stage.
    The chain is built as ONE SQL string (:func:`_flat_dot_text`) and one
    ``F.expr`` parse: building it element by element from Python cost ~1s
    of py4j chatter per 64-wide call.

    Exactness (``parts=1``): ``((x0·y0 + x1·y1) + x2·y2) + …`` is the same
    IEEE double sequence as the fold's ``((0.0 + x0·y0) + x1·y1) + …``
    because ``0.0 + x == x`` for every non-NaN double — so swapping it in
    changes no result hash, and the DuckDB oracles keep their
    ``list_sum`` form.  Requires the physical array width: every caller
    passes its table contract's ``dim`` (see the module docstring).

    ``parts>1`` — split-partials order: the terms are grouped into
    ``parts`` consecutive left-associated partial sums, combined
    left-associatively at the top (``(p0 + p1) + p2 …``).  This is a
    DIFFERENT (still fully deterministic) IEEE summation order from the
    fold, so any oracle grading a ``parts>1`` site must mirror it with
    explicit per-term SQL (see ``queries/suite._dot_split_sql``), not
    ``list_sum``.  Why bother: the ``parts=1`` chain is one ~64-deep
    left-leaning Add spine — Catalyst's per-rule tree transforms walk it
    superlinearly (a measured ~2.3s fixed driver-planning floor per call
    at dim=64) and whole-stage codegen emits it as one straight-line
    block.  The split shape is ~8 deep, plans in a fraction of the time,
    and gives codegen natural subexpression boundaries; round-10
    measurements (BENCH_EMB_FORMS_r10.json) show it strictly faster under
    both broadcast and sort-merge join regimes at every scale tried.
    """
    if dim <= 0:
        return F.lit(0.0)
    return F.expr(_flat_dot_text(a, b, dim, parts))


#: bounded-query-set gate of the ANN operators: a query set this small is
#: driver-held model state (k-means centroid precedent) and scores in one
#: Arrow pass over the candidates (:func:`_inline_scored`).  Above the
#: gate the join path is kept (an unbounded query side must never be
#: collected).
ANN_INLINE_MAX = 64


def _collect_inline_queries(
    q: DataFrame, cols: list[str], vec_col: str, dim: int
) -> list | None:
    """Collect a BOUNDED query side for :func:`_inline_scored`, or
    ``None`` to keep the join path: more than :data:`ANN_INLINE_MAX`
    rows, a NULL id, a NULL / wrong-width vector (the scorer needs the
    pinned width), or a non-finite component.  Rows come back sorted by
    the first column (the id) so the scorer's query order is
    deterministic."""
    rows = q.select(*cols).limit(ANN_INLINE_MAX + 1).collect()
    if len(rows) > ANN_INLINE_MAX or not rows:
        return None
    import math

    for r in rows:
        if r[0] is None:
            return None
        v = r[vec_col]
        if v is None or len(v) != dim:
            return None
        if any(x is None or not math.isfinite(x) for x in v):
            return None
    return sorted(rows, key=lambda r: r[0])


def _quote_ident(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for SQL
    text: ``l.v`` → ``` `l`.`v` ``` — each dot-separated segment quoted,
    so reserved words and underscore-leading names parse as references."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _flat_dot_text(a: str, b, dim: int, parts: int = 1) -> str:
    """SQL text of the :func:`flat_dot` chain Σ ``a[i]·b[i]`` — the one
    SQL-text dot builder.  ``a`` is a column name; ``b`` is a column name
    or a driver-held Python vector (an LSH hyperplane), whose terms are
    emitted via :func:`_lit_d` so each literal round-trips exactly.
    Explicit parentheses pin the left-associated grouping of each partial
    and of the top-level combine, so the parsed tree is the
    GetArrayItem·Cast·Multiply·Add tree node for node."""
    if dim <= 0:
        return "CAST(0.0 AS DOUBLE)"
    a = _quote_ident(a)
    if isinstance(b, str):
        b = _quote_ident(b)
        rhs = [f"CAST({b}[{i}] AS DOUBLE)" for i in range(dim)]
    else:
        rhs = [_lit_d(float(x)) for x in b[:dim]]
    chunk = -(-dim // max(1, parts))
    groups: list[str] = []
    for start in range(0, dim, chunk):
        acc = None
        for i in range(start, min(start + chunk, dim)):
            t = f"(CAST({a}[{i}] AS DOUBLE) * {rhs[i]})"
            acc = t if acc is None else f"({acc} + {t})"
        groups.append(acc)
    total = groups[0]
    for g in groups[1:]:
        total = f"({total} + {g})"
    return total


def cosine(a: Column | str, b: Column | str) -> Column:
    """Fold-order cosine; NULL on a zero divisor, as with ANSI off."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


#: summation split of every width-pinned cosine (scoring dots AND norms):
#: the split-partials shape whole-stage codegen compiles into short
#: independent chains.  Round-10 micro-benchmark at 10M pairs / dim 64
#: (noop sink, same session): interpreted HOF cosine 1545 s executor CPU,
#: flat parts=1 211 s, flat parts=8 **15.8 s**.  Any DuckDB oracle grading
#: a parts>1 site must mirror the order with explicit per-term SQL
#: (queries/suite._dot_split_sql) — same contract as embedding_near_dup.
COSINE_SPLIT_PARTS = 8


def _staged_cosine(
    q: DataFrame, c: DataFrame, qv: str, cv: str, dim: int
) -> tuple:
    """(q', c', score) for a pair-scoring join: with the vector width
    pinned by the caller's table contract, each side's norm is staged
    into a column BEFORE the join (computed once per ROW, where the
    ``cosine`` form re-folds both norms once per PAIR) and the per-pair
    dot is the codegen :func:`flat_dot` split-partials chain
    (:data:`COSINE_SPLIT_PARTS`) instead of the interpreted
    zip_with/aggregate fold (round-10, guide §4 — the same staged shape
    :func:`semdedup`'s pair scan uses).  The split summation order is a
    DIFFERENT (fully deterministic) IEEE sequence from the fold, so
    oracles mirror it via ``_dot_split_sql``.

    A row narrower than ``dim`` stages a NULL norm, so neither its norm
    nor any pair dot reads past its end; with a zero divisor that makes
    the score NULL (:func:`_np_cosine`'s rule) instead of raising."""
    p = COSINE_SPLIT_PARTS

    def staged_norm(v):
        return F.when(F.size(v) >= dim, F.sqrt(flat_dot(v, v, dim, parts=p)))

    qs = q.withColumn("_nq", staged_norm(qv))
    cs = c.withColumn("_nc", staged_norm(cv))
    den = F.col("_nq") * F.col("_nc")
    score = F.when(den != 0, flat_dot(qv, cv, dim, parts=p) / den)
    return qs, cs, score


def _np_flat_dot(V, W, dim: int, parts: int):
    """NumPy evaluation of :func:`flat_dot`'s split-partials order over
    float64 arrays ``V``/``W`` whose LAST axis is the ``dim`` vector axis
    and whose leading axes broadcast — (n, dim) against (n, dim) or one
    (1, dim) row, or (b, 1, dim) against (1, m, dim) for a (b, m) pair
    block — and the only dot this module evaluates outside the JVM:
    every multiply and add is an
    ELEMENTWISE ufunc call in the exact left-associated sequence the
    staged expression executes per row, so the result vector is
    bit-identical to the JVM evaluation.  (Deliberately NOT np.dot /
    np.add.reduce — both use pairwise/SIMD summation with a different,
    version-dependent order.)"""
    if dim <= 0:  # flat_dot's literal 0.0
        import numpy as np

        return np.zeros(np.broadcast_shapes(V.shape[:-1], W.shape[:-1]))
    chunk = -(-dim // parts)
    partials = []
    for start in range(0, dim, chunk):
        acc = None
        for i in range(start, min(start + chunk, dim)):
            t = V[..., i] * W[..., i]
            acc = t if acc is None else acc + t
        partials.append(acc)
    total = partials[0]
    for p in partials[1:]:
        total = total + p
    return total


def _np_dense(cv, dim: int):
    """(V, bad) of an Arrow list column for the NumPy kernels: V is the
    (n, ``dim``) float64 row matrix and ``bad`` flags the rows outside
    the width contract (``None`` when there are none) — a NULL vector,
    any NULL element among the first ``dim``, or fewer than ``dim``
    elements; the expression path's ``v[i]`` chain is NULL on each of
    them.  A bad row's V entries are zeros.  Elements beyond ``dim`` are
    ignored, as the ``v[i]`` chain never reads them."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(cv)
    # fast path: no NULL vectors or elements and every list exactly `dim`
    # long (a uniform offset stride — an equal TOTAL length alone would
    # reshape ragged rows [1,2,3],[4] as [[1,2],[3,4]]) → the list values
    # are one contiguous buffer
    if cv.null_count == 0 and pc.all(pc.equal(pc.list_value_length(cv), dim)).as_py():
        vals = cv.flatten()
        if vals.null_count == 0:
            # float64: an array<float> column arrives as float32, and the
            # expression path casts every element to DOUBLE
            V = vals.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            return V.reshape(n, dim), None
    V = np.zeros((n, dim), dtype=np.float64)
    bad = np.zeros(n, dtype=bool)
    for j, row in enumerate(cv.to_pylist()):
        if row is None or len(row) < dim or any(x is None for x in row[:dim]):
            bad[j] = True
        else:
            V[j, :] = row[:dim]
    return V, (bad if bad.any() else None)


def _np_cosine(A, a_bad, B, b_bad, dim: int, parts: int):
    """(cs, null): the (a, b) cosine cells of the float64 row matrices
    ``A`` (a, dim) and ``B`` (b, dim), every dot and norm in
    :func:`_np_flat_dot`'s ``parts`` order, and the mask of the NULL
    cells — the one cosine rule of the NumPy kernels.  A cell is NULL
    when its divisor is zero or either row is outside the width contract
    (``a_bad``/``b_bad`` from :func:`_np_dense`, or ``None``); a NaN from
    non-finite input stays NaN."""
    import numpy as np

    with np.errstate(all="ignore"):
        na = np.sqrt(_np_flat_dot(A, A, dim, parts))
        nb = np.sqrt(_np_flat_dot(B, B, dim, parts))
        den = np.multiply.outer(na, nb)
        cs = _np_flat_dot(A[:, None, :], B[None, :, :], dim, parts) / den
    null = den == 0
    if a_bad is not None:
        null |= a_bad[:, None]
    if b_bad is not None:
        null |= b_bad[None, :]
    return cs, null


def _np_desc_order(cs, null, tie):
    """Indexes that sort cosines ``cs`` along the last axis like the
    oracles' ``ORDER BY cs DESC, tie``: NaN first (greatest), NULL cells
    (``null``) last, −0.0 equal to +0.0."""
    import numpy as np

    nan = np.isnan(cs) & ~null
    cls = np.where(nan, 0, np.where(null, 2, 1))
    key = np.where(nan | null, 0.0, -cs)
    return np.lexsort((tie, key, cls))


def _inline_scored(
    c,
    rows,
    dim: int,
    with_label: bool = False,
    prune_k: int | None = None,
    keys=None,
):
    """(query_id, neighbor_id[, nlabel, qlabel], score) of a BOUNDED
    driver-held query set against the candidate frame ``c`` (columns
    ``neighbor_id``, ``cv``[, ``nlabel``]).

    Scoring runs in a ``mapInArrow`` batch function: candidate vectors
    arrive as one contiguous Arrow buffer, reshape to (n, dim) float64,
    and the per-query cosines evaluate as ~dim elementwise NumPy ops in
    :func:`flat_dot`'s exact split-partials order (:func:`_np_flat_dot`;
    guide §4.2 — hand whole batches to vectorized native code).  Why not
    the codegen expression form: a 64-term×8-part chain per query
    compiles into generated methods so large that HotSpot either never
    JITs them or JITs them only after several executions — measured at
    the 100× replica: 38-75 s executor CPU on the execution a bench
    actually pays, vs ~a second of NumPy loops for the identical
    arithmetic.  Scores follow :func:`_np_cosine`'s rule: a row outside
    the width contract (NULL vector, any NULL element among the first
    ``dim``, or fewer than ``dim`` elements) and a zero divisor give a
    NULL score, as on the guarded join path (:func:`_staged_cosine`);
    extra elements beyond ``dim`` are ignored.  On contract data the
    two paths are bit-identical, pinned by
    test_inline_arrow_scorer_bit_identical_to_expression_path.

    ``keys``: join-on-key semantics inside the batch.  Called once with
    the (#queries, dim) query matrix, it returns ``(key_of, allowed)``:
    ``key_of(V, bad)`` computes each candidate row's integer key from
    the batch's dense matrix and contract mask (:func:`_np_dense`), and
    a row emits only for the queries ``qi`` whose key set
    ``allowed[qi]`` holds that key.

    ``prune_k``: when set, each batch applies the consumer's pair filter
    — the label inequality with ``with_label`` (NULL-safe, like
    ``qlabel != nlabel``), else the self pair and NULL ids (like
    ``query_id != neighbor_id``) — and emits only its local top-k rows
    per query under the consumer's exact total order (score DESC with
    NaN greatest — Spark's double ordering — and NULL last, then
    neighbor_id ASC NULLS FIRST; :func:`_np_desc_order`).  The global
    top-k is a subset of the union of batch-local top-ks under the same
    total order, and the downstream window recomputes exact ranks, so
    results are independent of batching."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    p = COSINE_SPLIT_PARTS
    # _collect_inline_queries guarantees non-NULL ids and exactly-`dim`
    # finite vectors
    qids = [r[0] for r in rows]
    qlabels = [r[2] if with_label else None for r in rows]
    Q = np.asarray([r[1] for r in rows], dtype=np.float64)
    key_of, allowed = keys(Q) if keys is not None else (None, None)
    in_schema = c.schema
    id_field = in_schema["neighbor_id"]
    out_fields = [
        StructField("query_id", id_field.dataType, True),
        StructField("neighbor_id", id_field.dataType, id_field.nullable),
    ]
    if with_label:
        nl = in_schema["nlabel"]
        out_fields.append(StructField("nlabel", nl.dataType, True))
        out_fields.append(StructField("qlabel", nl.dataType, True))
    out_fields.append(StructField("score", DoubleType(), True))
    out_schema = StructType(out_fields)

    def score_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column("neighbor_id")
            cv = b.column("cv")
            nlab = b.column("nlabel") if with_label else None
            V, mask = _np_dense(cv, dim)
            scores, nulls = _np_cosine(Q, None, V, mask, dim, p)
            row_key = key_of(V, mask) if key_of is not None else None
            id_rank = None
            if prune_k is not None:
                try:
                    # neighbor_id ASC NULLS FIRST, for any orderable id type
                    id_rank = pc.rank(
                        ids, "ascending", null_placement="at_start"
                    ).to_numpy()
                except pa.ArrowNotImplementedError:
                    pass  # unorderable id type: no pruning
            for qi, (qid, qlabel, score, null) in enumerate(
                zip(qids, qlabels, scores, nulls)
            ):
                keep = None
                if row_key is not None:
                    keep = np.isin(row_key, allowed[qi])
                if prune_k is not None:
                    if keep is None:
                        keep = np.ones(n, dtype=bool)
                    if not with_label:
                        ne = pc.not_equal(ids, pa.scalar(qid, ids.type))
                    elif qlabel is None:
                        ne = pa.nulls(n, pa.bool_())
                    else:
                        ne = pc.invert(pc.equal(nlab, pa.scalar(qlabel, nlab.type)))
                    keep &= pc.fill_null(ne, False).to_numpy(zero_copy_only=False)
                sel = None
                if keep is not None:
                    idx = np.flatnonzero(keep)
                    if id_rank is not None and idx.size > prune_k:
                        order = _np_desc_order(score[idx], null[idx], id_rank[idx])
                        idx = idx[order[:prune_k]]
                    sel = pa.array(idx)
                take = (lambda a: a) if sel is None else (lambda a: a.take(sel))
                m = n if sel is None else len(sel)
                # constant columns in the candidate id / label type
                cols = [pa.repeat(pa.scalar(qid, ids.type), m), take(ids)]
                if with_label:
                    cols += [
                        take(nlab),
                        pa.repeat(pa.scalar(qlabel, nlab.type), m),
                    ]
                cols.append(take(pa.array(score, mask=null)))
                yield pa.RecordBatch.from_arrays(
                    cols, names=[f.name for f in out_fields]
                )

    return c.mapInArrow(score_batches, out_schema)


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    """The top-k tail of every ANN operator: per ``query_id``, a
    ``row_number`` over (score DESC, neighbor_id), ``rank <= k``, and
    ``cos_sim = round(score, 6)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("score", 6).alias("cos_sim"),
        )
    )


def _ann_topk(
    queries: DataFrame,
    c: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dim: int,
    label_col: str | None = None,
    keys=None,
    join=None,
    inline: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_sim): the one top-k plan of the
    ANN operators, scoring ``queries`` against the candidate frame ``c``
    (``neighbor_id``, ``cv``[, ``nlabel``]).

    Bounded path — ``inline`` and a query side that
    :func:`_collect_inline_queries` accepts: one :func:`_inline_scored`
    Arrow pass over ``c`` with the key mask ``keys`` and batch-local
    top-k pruning — no join, which would multiply rows before a per-pair
    expression that pays the JIT's huge-method cliff (see
    :func:`_inline_scored`).
    Otherwise the query side (query_id, qv[, qlabel]) is broadcast into
    a join with ``c`` scored by :func:`_staged_cosine`: ``join(q, c)``
    returns ``(q, c, on)`` with the equi-join key columns added, and
    without it the join is a cross join.  Either way the pairs then
    pass the consumer's filter — ``qlabel != nlabel`` with
    ``label_col``, else ``query_id != neighbor_id`` — and
    :func:`_ranked`; the two paths are bit-identical on contract data."""
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    rows = _collect_inline_queries(queries, cols, vec_col, dim) if inline else None
    if rows is not None:
        scored = _inline_scored(
            c, rows, dim, with_label=label_col is not None, prune_k=k, keys=keys
        )
    else:
        q = queries.select(
            *[F.col(a).alias(b) for a, b in zip(cols, ("query_id", "qv", "qlabel"))]
        )
        q, c, on = join(q, c) if join is not None else (q, c, None)
        q, c, score = _staged_cosine(q, c, "qv", "cv", dim)
        q = F.broadcast(q)
        pairs = q.crossJoin(c) if on is None else q.join(c, on)
        scored = pairs.withColumn("score", score)
    if label_col:
        pair = F.col("qlabel") != F.col("nlabel")
    else:
        pair = F.col("query_id") != F.col("neighbor_id")
    return _ranked(scored.filter(pair).select("query_id", "neighbor_id", "score"), k)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Exact cosine top-k per query vector, self-matches excluded.

    ``queries`` is expected to be small: with at most
    :data:`ANN_INLINE_MAX` queries the scoring is one Arrow pass over
    ``candidates``; otherwise Spark broadcasts the query side, so the
    scan of ``candidates`` is a single pass with no shuffle of the big
    side (see :func:`_ann_topk`).
    Ranking shuffles only (query × k-ish) rows.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    # the broadcast join keeps the probe side's partitioning, so a narrow
    # local candidate scan must spread BEFORE the per-row scoring pass
    c = rebalance(candidates).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _ann_topk(queries, c, k, id_col, vec_col, dim)


# Fixed hyperplane seed constants for LSH bucketing (engine-portable:
# pseudo-random ±1 hyperplanes derived from (bit, dim) via a hash-free
# affine rule — stable literals, reproducible in SQL).
LSH_NBITS = 8


def _hyperplane_signs(nbits: int, dim: int) -> list[list[float]]:
    """The ±1.0 components of LSH hyperplanes ``0..nbits-1`` at width
    ``dim``, shared by the SQL-text and NumPy bucket paths.

    Uses a small affine congruence (no engine hash): sign = +1 iff
    (i*(2*bit+3) + bit*7) mod 4 < 2.  Crude but fixed and portable; LSH
    quality only needs the planes to be ~uncorrelated.
    """
    return [
        [1.0 if (i * (2 * b + 3) + b * 7) % 4 < 2 else -1.0 for i in range(dim)]
        for b in range(nbits)
    ]


def lsh_bucket(vec: str, nbits: int = LSH_NBITS, *, dim: int) -> Column:
    """Random-hyperplane LSH bucket id (0..2^nbits-1) of the ``dim``-wide
    vector column ``vec``: per bit the parts=1 :func:`_flat_dot_text`
    chain against the ±1.0 hyperplane (one codegen ``F.expr`` parse),
    its sign as the bit, the bits summed into an INT."""
    bits = [
        f"(CASE WHEN ({_flat_dot_text(vec, signs, dim)}) > CAST(0.0 AS DOUBLE)"
        f" THEN {1 << b} ELSE 0 END)"
        for b, signs in enumerate(_hyperplane_signs(nbits, dim))
    ]
    total = bits[0]
    for t in bits[1:]:
        total = f"({total} + {t})"
    return F.expr(f"CAST(({total}) AS INT)")


def _lsh_bucket_np(V, nbits: int, dim: int):
    """NumPy evaluation of :func:`lsh_bucket` over a float64 row
    matrix: per bit the parts=1 :func:`_np_flat_dot` against the
    hyperplane row, bit-identical to the expression for every row —
    the sign test follows Spark's comparison, where NaN is greater than
    0 (IEEE/NumPy say it is not)."""
    import numpy as np

    signs = np.asarray(_hyperplane_signs(nbits, dim), dtype=np.float64)
    buck = np.zeros(V.shape[0], dtype=np.int64)
    with np.errstate(invalid="ignore"):
        for b in range(nbits):
            proj = _np_flat_dot(V, signs[b : b + 1], dim, 1)
            buck += np.where((proj > 0) | np.isnan(proj), 1 << b, 0)
    return buck


def sampled_centroids(
    vectors: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_lists`` lowest-id vectors.

    The IVF recall/speed trade-off only depends on centroid *quality*;
    sampling keeps the whole pipeline engine-portable (a DuckDB oracle can
    reproduce it).  Any other (cid, cv) quantizer table slots into the
    same plans.
    """
    return (
        vectors.orderBy(id_col)
        .limit(n_lists)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    )


#: quantizers up to this size are driver-held model state and assign
#: through :func:`_arrow_assignments`; larger ones are never collected and
#: take the broadcast-join + window plan (:func:`_join_assignments`)
MAX_INLINE_CENTROIDS = 1024


def _bounded_quantizer(centroids: DataFrame) -> list | None:
    """The quantizer's (cid, cv) rows sorted by cid, or ``None`` above
    :data:`MAX_INLINE_CENTROIDS` — at most that many plus one rows are
    ever collected."""
    rows = centroids.select("cid", "cv").limit(MAX_INLINE_CENTROIDS + 1).collect()
    if len(rows) > MAX_INLINE_CENTROIDS:
        return None
    return sorted(rows, key=lambda r: r["cid"])


def _quantizer_width(cent_rows: list) -> int:
    """Width of a driver-held quantizer: its widest centroid (0 when
    every centroid is NULL or there is none)."""
    return max((len(r["cv"]) for r in cent_rows if r["cv"] is not None), default=0)


def _np_quantizer(cent_rows: list):
    """(cids, C, cbad) of a driver-held quantizer in cid order: the int64
    ids, the (k, dim) float64 centroid matrix at :func:`_quantizer_width`
    and the mask of centroids outside that width contract
    (:func:`_np_dense`'s rule) — each such centroid, a NULL one included,
    is a column of NULL cosines."""
    import numpy as np
    import pyarrow as pa

    cents = sorted(cent_rows, key=lambda r: r["cid"])
    cids = np.asarray([int(r["cid"]) for r in cents], dtype=np.int64)
    cv = pa.array([r["cv"] for r in cents], type=pa.list_(pa.float64()))
    C, cbad = _np_dense(cv, _quantizer_width(cents))
    return cids, C, cbad


def _np_top_centroids(V, bad, C, cbad, m: int):
    """(n, m) row indexes into the quantizer matrix ``C`` of each row of
    ``V``'s ``m`` best centroids, best first — the one centroid argmax,
    shared by :func:`_arrow_assignments` and :func:`ivf_topk`'s key
    mask.  ``V``/``bad`` come from :func:`_np_dense` at ``C``'s width;
    ``C``/``cbad`` from :func:`_np_quantizer`.

    The cosine is :func:`_np_cosine` with every dot the parts=1
    :func:`_np_flat_dot` chain: the ``v[i]·c_i`` chain of
    :func:`flat_dot`, bit-identical to the :func:`dot` fold the oracles'
    ``_cos_sql`` mirrors (the chain differs from the fold only in the
    sign of an all-(−0.0) dot, and ±0.0 tie below).  Rows and centroids
    outside the width contract and zero divisors give NULL cosines.

    Order: the oracles' ``ORDER BY cs DESC, cid`` (:func:`_np_desc_order`)
    — NaN first, NULL last, −0.0 equal to +0.0, ties broken by cid.  So
    a row whose cosines are all NULL gets the lowest cid."""
    import numpy as np

    k, dim = C.shape
    # bound each (rows × k) cosine block to ~1M cells
    block = max(1, (1 << 20) // max(1, k))
    picks = [np.zeros((0, m), dtype=np.int64)]
    for s in range(0, V.shape[0], block):
        vbad = None if bad is None else bad[s : s + block]
        cs, null = _np_cosine(V[s : s + block], vbad, C, cbad, dim, 1)
        col = np.broadcast_to(np.arange(k), cs.shape)
        picks.append(_np_desc_order(cs, null, col)[:, :m])
    return np.concatenate(picks)


def _arrow_assignments(
    vectors: DataFrame,
    cent_rows: list,
    n_best: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shuffle-free centroid assignment against a driver-held quantizer:
    (id, v, cid, rn) with each vector's ``min(n_best, k)`` best centroids
    (:func:`_np_top_centroids` at the centroid width), ``rn`` = 1, 2, …,
    in ONE ``mapInArrow`` pass (the :func:`_inline_scored` shape: the
    centroids are model state, the vectors arrive as Arrow batches,
    ``v`` passes through unchanged).  ``cid`` is INT, or BIGINT when a
    cid lies outside INT (the type the literal form gave it)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    cids, C, cbad = _np_quantizer(cent_rows)
    k, dim = C.shape
    m = min(int(n_best), k)
    int32 = k == 0 or np.abs(cids).max() < 2**31
    cid_type = IntegerType() if int32 else LongType()
    src = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    out_schema = StructType(
        [*src.schema.fields, StructField("cid", cid_type), StructField("rn", IntegerType())]
    )

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0 or m <= 0:
                continue
            V, bad = _np_dense(b.column("v"), dim)
            cid = cids[_np_top_centroids(V, bad, C, cbad, m)].reshape(-1)
            out = b if m == 1 else b.take(pa.array(np.repeat(np.arange(n), m)))
            yield pa.RecordBatch.from_arrays(
                [
                    out.column("id"),
                    out.column("v"),
                    pa.array(cid, type=pa.int32() if int32 else pa.int64()),
                    pa.array(np.tile(np.arange(1, m + 1, dtype=np.int32), n)),
                ],
                names=["id", "v", "cid", "rn"],
            )

    return src.mapInArrow(assign, out_schema)


#: coarse quantizers at or below this size skip the two-level routing in
#: :func:`hierarchical_assignments` (n_super = 1 degenerates bit-exactly
#: to the flat argmax, so small corpora keep the one-pass plan)
HIERARCHICAL_MIN_LISTS = 64


def hierarchical_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_super: int | None = None,
) -> DataFrame:
    """Two-level coarse-quantizer assignment: route each vector through
    ``n_super`` super-centroids (the lowest-cid prefix of the quantizer),
    then score ONLY the centroids whose nearest super matches — O(2·√k)
    cosines per vector instead of the flat argmax's O(k).

    Why it exists: SemDeDup grows the quantizer with the corpus
    (k = n/512), so the flat assignment is O(n·k) = O(n²/512) — measured
    1.2-super-linear at the 100× rehearsal (BENCH_SF10.md).  Two-level
    routing is the standard IVF answer (coarse-within-coarse); cluster
    sizes stay ~512 so the downstream intra-cluster pair scan stays
    linear in n.

    Determinism contract (what keeps the DuckDB oracle exact): supers are
    a PREFIX of the cid-sorted centroid list; each centroid belongs to its
    nearest super by (cos DESC, sid ASC) except supers, which belong to
    THEMSELVES (so no routing bucket is ever empty, even with duplicate
    centroid vectors); each vector picks its best super then the best
    centroid within that super's bucket, both by (cos DESC, id ASC).
    ``n_super`` defaults to ``1`` for quantizers ≤ HIERARCHICAL_MIN_LISTS
    — which reduces to the flat argmax bit-for-bit — else ``isqrt(k)``.
    Both levels follow the module's NULL contract: a zero divisor or a
    vector narrower than the supers gives NULL cosines, ranked last.

    Plan: ``n_super = 1`` over a bounded quantizer is one
    :func:`_arrow_assignments` pass.  Otherwise only the supers are
    collected and the k-sized level STAYS DISTRIBUTED: vectors AND
    centroids route to their best super through the same
    :func:`_arrow_assignments` kernel, buckets fold to one
    (sid, array<struct>) row each, and vectors pick up their bucket via a
    BROADCAST join on sid — shuffle-free on the vector table, and neither
    driver memory nor the Catalyst plan grows with k.  The in-bucket
    argmax is an ``array_sort`` over the bucket's fold-order cosines in
    the oracles' ``ORDER BY cs DESC, cid`` (NaN first, NULL last).

    Returns (id, v, cid, rn=1) like :func:`_arrow_assignments`.
    """
    import math

    cent = centroids.select("cid", "cv")
    k = cent.count()
    if n_super is None:
        n_super = 1 if k <= HIERARCHICAL_MIN_LISTS else max(1, math.isqrt(k))
    if n_super == 1:
        rows = _bounded_quantizer(cent)
        if rows is not None:
            return _arrow_assignments(vectors, rows, 1, id_col, vec_col)

    sup_rows = cent.orderBy("cid").limit(n_super).collect()
    super_ids = [int(r["cid"]) for r in sup_rows]
    sup_dim = _quantizer_width(sup_rows)
    # route every centroid to its super (supers route to themselves), fold
    # each bucket into one array row, broadcast — n_super rows, k structs
    routed = _arrow_assignments(cent, sup_rows, 1, "cid", "cv")
    bucket = (
        routed.select(
            F.when(F.col("id").isin(*super_ids), F.col("id"))
            .otherwise(F.col("cid"))
            .alias("sid"),
            F.struct(
                F.col("id").alias("cid"),
                F.col("v").alias("cv"),
                norm(F.col("v")).alias("ncv"),
            ).alias("c"),
        )
        .groupBy("sid")
        .agg(F.collect_list("c").alias("_cands"))
    )
    base = _arrow_assignments(vectors, sup_rows, 1, id_col, vec_col).select(
        "id",
        "v",
        F.col("cid").alias("_sid"),
        F.when(F.size("v") >= sup_dim, F.sqrt(flat_dot("v", "v", sup_dim))).alias(
            "_nv"
        ),
    )
    scored = F.transform(
        F.col("_cands"),
        lambda e: F.struct(
            (
                dot(F.col("v"), e["cv"]) / F.nullif(F.col("_nv") * e["ncv"], F.lit(0.0))
            ).alias("cs"),
            e["cid"].alias("cid"),
        ),
    )
    # ascending (class, −cs, cid) ≡ ORDER BY cs DESC, cid with NaN first
    # (class 0) and NULL last (class 2)
    scored = F.transform(
        scored,
        lambda e: F.struct(
            F.when(F.isnan(e["cs"]), 0)
            .when(e["cs"].isNull(), 2)
            .otherwise(1)
            .alias("cls"),
            (-e["cs"]).alias("negcs"),
            e["cid"].alias("cid"),
        ),
    )
    return (
        base.join(F.broadcast(bucket), F.col("_sid") == F.col("sid"))
        .withColumn("_best", F.element_at(F.array_sort(scored), 1))
        .select(
            "id",
            "v",
            F.col("_best.cid").alias("cid"),
            F.lit(1).cast("int").alias("rn"),
        )
    )


def _join_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    n_best: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Centroid assignment for quantizers above MAX_INLINE_CENTROIDS,
    (id, v, cid, rn) like :func:`_arrow_assignments`: centroids
    broadcast into a crossJoin, per-vector rank via a window partitioned
    by vector id — one hash exchange of the #centroids-expanded pair
    table."""
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    pairs = v.crossJoin(F.broadcast(centroids)).select(
        "id", "v", "cid", cosine("v", "cv").alias("cs")
    )
    wnd = Window.partitionBy("id").orderBy(F.col("cs").desc(), F.col("cid"))
    return (
        pairs.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= n_best)
        .select("id", "v", "cid", "rn")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """IVF approximate top-k: candidates live in exactly one inverted list
    (their nearest centroid); each query probes its ``nprobe`` nearest
    lists and scores only those lists' members — a ``nprobe/n_lists``
    fraction of the data.  At scale the candidate side is written
    partitioned/bucketed by ``cid`` so a probe is a partition-pruned scan.

    Bounded plan — a quantizer of at most :data:`MAX_INLINE_CENTROIDS`
    centroids whose width is the pinned ``dim``, and at most
    :data:`ANN_INLINE_MAX` queries: the driver computes each query's
    probe lists (:func:`_np_top_centroids`), and one Arrow pass over the
    candidates assigns each row its list with the same function and
    scores it for the queries that probe that list — list membership is
    :func:`_inline_scored`'s key mask, so there is no assignment pass, no
    probe frame and no join.  Otherwise both sides are assigned and the
    probes broadcast-join the candidates on ``cid``: through
    :func:`_arrow_assignments` for a bounded quantizer, collected once
    for both passes, or through :func:`_join_assignments` above the
    bound, where the lazy ``centroids`` plan (e.g.
    :func:`sampled_centroids`' TakeOrdered) executes once per side.
    """
    cent = _bounded_quantizer(centroids)

    def assign(df, idc, vc, n):
        if cent is not None:
            a = _arrow_assignments(df, cent, n, idc, vc)
        else:
            a = _join_assignments(df, centroids, n, idc, vc)
        return a.select(F.col("id").alias(idc), F.col("v").alias(vc), "cid")

    def join(q, c):
        probes = assign(q, "query_id", "qv", nprobe)
        return probes, assign(c, "neighbor_id", "cv", 1), "cid"

    def keys(Q):
        _, C, cbad = _np_quantizer(cent)
        probes = _np_top_centroids(Q, None, C, cbad, max(0, min(nprobe, len(C))))
        return (lambda V, bad: _np_top_centroids(V, bad, C, cbad, 1)[:, 0]), probes

    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    inline = bool(cent) and _quantizer_width(cent) == dim
    return _ann_topk(
        queries, c, k, id_col, vec_col, dim, keys=keys, join=join, inline=inline
    )


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    nbits: int = LSH_NBITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH bucket.

    At scale the candidate side is pre-bucketed (partitioned/bucketed table
    on ``bucket``), so a query touches 1/2^nbits of the data.  With a
    bounded query set, bucketing and scoring are one Arrow
    pass: the bucket-equality join becomes :func:`_inline_scored`'s key
    mask (:func:`_lsh_bucket_np`, Spark's NaN-greatest sign rule
    mirrored; a contract-violating row's NULL bucket is key −1 and never
    matches).  Otherwise the query side broadcast-joins the candidates on
    ``bucket`` (:func:`lsh_bucket`), NULL for the same rows.
    """

    def keys(Q):
        def key_of(V, bad):
            bucket = _lsh_bucket_np(V, nbits, dim)
            if bad is not None:
                bucket[bad] = -1
            return bucket

        return key_of, _lsh_bucket_np(Q, nbits, dim)[:, None]

    def bucketed(df, v):
        # nested so no v[i] is read past a short row's end
        bucket = F.when(
            F.size(v) >= dim,
            F.when(flat_dot(v, v, dim).isNotNull(), lsh_bucket(v, nbits, dim=dim)),
        )
        return df.withColumn("bucket", bucket)

    def join(q, c):
        return bucketed(q, "qv"), bucketed(c, "cv"), "bucket"

    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _ann_topk(queries, c, k, id_col, vec_col, dim, keys=keys, join=join)


def group_centroids(
    vectors: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Mean-pool vector aggregation: the per-group centroid of an embedding
    column (class prototypes, per-language anchors, cluster summaries).

    Plan shape for 100 TB: ``dim`` flat DECIMAL(30,15) SUMs + one COUNT
    in a SINGLE per-group HashAggregate with map-side partials — shuffle
    volume is dims × groups, independent of row count, and no Generate
    multiplies rows ×dim.  Decimal sums are order-independent (exact)
    across any partitioning; the final per-dim mean is rounded to 6
    decimals.  NULL vectors are excluded; vectors of another width than
    ``dim`` are out of contract.
    """
    g = (
        vectors.where(F.col(vec_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(
                    F.get(vec_col, d).cast("double").cast("decimal(30,15)")
                ).alias(f"_s{d}")
                for d in range(dim)
            ],
        )
    )
    return g.select(
        *group_cols,
        F.array(
            *[
                F.round(F.col(f"_s{d}").cast("double") / F.col("_n"), 6)
                for d in range(dim)
            ]
        ).alias("centroid"),
        F.col("_n").alias("n_vectors"),
    )


def int8_quantize(
    vec: Column | str, scale_out: bool = True, scale: Column | None = None
) -> Column:
    """Per-vector symmetric int8 scalar quantization — the 4× storage cut
    every large-scale embedding store applies before ANN serving.

    ``scale = max(|v_i|) / 127``; ``q_i = floor(v_i/scale + 0.5)`` (explicit
    half-up — ``round()`` library semantics differ between engines, the
    floor form is bit-identical everywhere).  All-zero vectors quantize to
    zeros with scale 0.  Returns a struct ``(q: array<int>, scale:
    double)`` (or just the array with ``scale_out=False``); dequantize is
    ``q_i * scale``.  Row-local — no shuffle, no UDF.
    """
    v = _c(vec)
    if scale is None:
        # NOTE: interpreted HOF lambdas get no common-subexpression
        # elimination, so this inline scale chain re-evaluates per
        # ELEMENT inside the q lambda below.  Fine for tests/small rows;
        # table-scale callers should stage the scale into a column first
        # (``withColumn("_scale", ...)``) and pass it via ``scale`` —
        # same operand order, same bits, O(1) per element.
        absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
        scale = absmax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.floor(x.cast("double") / scale + F.lit(0.5)))
        .cast("int"),
    )
    if not scale_out:
        return q
    return F.struct(q.alias("q"), scale.alias("scale"))


def quantization_error(vec: Column | str, quant: Column) -> Column:
    """Mean absolute reconstruction error of :func:`int8_quantize` output —
    exact-DECIMAL summed (order-independent across partitions) so grouped
    averages hash-match any engine."""
    v = _c(vec)
    diffs = F.zip_with(
        v,
        quant["q"],
        lambda x, qi: F.abs(x.cast("double") - qi.cast("double") * quant["scale"]).cast(
            "decimal(18,12)"
        ),
    )
    return (
        F.aggregate(
            diffs,
            F.lit(0).cast("decimal(28,12)"),
            # re-cast each step: decimal addition widens the type, and the
            # fold's merge must return the zero's type
            lambda acc, d: (acc + d).cast("decimal(28,12)"),
        ).cast("double")
        / F.size(v)
    )


def _round6_ge_cut(threshold: float) -> float:
    """Smallest double ``t`` such that ``cs >= t`` (IEEE double compare)
    ⟺ Spark's ``F.round(cs, 6) >= lit(threshold)`` predicate, reduced to
    one raw double comparison so a vectorized scorer can apply it without
    per-pair decimal arithmetic.  Derivation: the smallest 6-decimal
    value k·1e-6 whose double is >= the threshold's double, minus the
    half-up tie 5e-7, is the decimal cut.  Spark rounds the shortest
    decimal of ``cs`` (``BigDecimal.valueOf``), so the passing doubles
    start at the cut's NEAREST double — its shortest decimal is the cut
    itself, even when it lies below.  Positive thresholds only (half-up
    rounds positives away from zero)."""
    from decimal import Decimal

    if not threshold > 0:
        raise ValueError("positive threshold required")
    td = Decimal(threshold)
    k = int(td * 10**6)  # floor
    if float(Decimal(k) / Decimal(10**6)) < threshold:
        k += 1
    return float(Decimal(k) / Decimal(10**6) - Decimal("0.0000005"))


def _semdedup_dropped_arrow(asg, dim: int, cut: float):
    """Within-cluster SemDeDup drop set as ONE grouped Arrow pass: per
    cluster, the pairwise split-partials cosine matrix
    (:func:`_np_cosine`) evaluates as ~dim elementwise outer-product
    accumulations in NumPy, in the IEEE order of the oracle's
    ``_cos_split_sql``, and a vector is dropped when any LOWER-id row
    clears the cut (``cs >= cut`` with ``cut`` from :func:`_round6_ge_cut`
    ≡ ``round(cs, 6) >= threshold``, with Spark's NaN-greatest
    comparison mirrored).  A NULL cosine is no hit.  Each vector ships
    ONCE, where a cluster self-join ships every pair, and no generated
    per-pair expression pays the huge-method JIT cliff on first
    execution (measured 24.7 s executor CPU at sf0.1, ~12 s steady, for
    ~13M pairs)."""
    from pyspark.sql.types import StructField, StructType

    p = COSINE_SPLIT_PARTS
    out_schema = StructType([StructField("id", asg.schema["id"].dataType)])

    def dropped_of_group(table):
        import numpy as np
        import pyarrow as pa

        tbl = table.combine_chunks()
        id_type = tbl.schema.field("id").type
        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        m = len(ids)
        if m < 2:
            return pa.table({"id": pa.array([], type=id_type)})
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V, bad = _np_dense(tbl.column("v").chunk(0), dim)
        V = V[order]
        bad = None if bad is None else bad[order]
        dropped = np.zeros(m, dtype=bool)
        # row blocks bound the (block × m) pair matrix
        bs = max(1, min(m, 4_194_304 // m))
        for s in range(0, m - 1, bs):
            e = min(s + bs, m)
            lo_bad = None if bad is None else bad[s:e]
            cs, null = _np_cosine(V[s:e], lo_bad, V, bad, dim, p)
            hit = ((cs >= cut) | np.isnan(cs)) & ~null  # Spark: NaN >= t
            # pair rule: lo strictly below hi in ascending-id order
            lo_rank = np.arange(s, e)[:, None]
            hi_rank = np.arange(m)[None, :]
            dropped |= (hit & (lo_rank < hi_rank)).any(axis=0)
        return pa.table({"id": pa.array(ids[dropped]).cast(id_type)})

    # no .distinct(): each id lives in exactly one cluster group and the
    # group function emits it at most once
    return (
        asg.select("cluster_id", "id", "v")
        .groupBy("cluster_id")
        .applyInArrow(dropped_of_group, out_schema)
    )


def semdedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    with a coarse quantizer, then drop any vector whose cluster contains a
    LOWER-id vector with cosine ≥ ``threshold`` (positive, else
    ``ValueError``).

    Returns (``id_col``, cluster_id, keep) for every input vector — the
    keep-filter is the dedup decision, deterministic under any
    partitioning (lowest id in each near-dup group survives).

    Scale shape: the O(n²) cosine matrix is confined to single clusters —
    driver-held centroids assign each vector in one narrow Arrow pass
    (:func:`hierarchical_assignments`), then ONE grouped Arrow pass per
    cluster (:func:`_semdedup_dropped_arrow`); cluster sizes are capped
    by the quantizer granularity (#clusters scales with n at 100 TB,
    exactly the SemDeDup recipe).  The drop rule needs no transitive
    closure, so no iteration.

    Assignment semantics AT SCALE (explicit, round-7): for quantizers
    larger than HIERARCHICAL_MIN_LISTS the cluster assignment is the
    two-level ROUTED argmax of :func:`hierarchical_assignments` — an
    IVF-style approximation of the flat nearest-centroid rule (a vector
    whose true nearest centroid lives under a different super is assigned
    to its routed bucket's best instead, so the drop-set can differ from
    a flat-argmax SemDeDup).  This is the standard IVF recall trade
    (Abbas et al. cluster with exactly such a coarse quantizer); the
    routed-vs-flat divergence is QUANTIFIED, not defined away — pinned by
    tests/test_datapipe.py two ways: an agreement LOWER bound on a
    realistic corpus (test_hierarchical_routed_vs_flat_divergence_
    quantified) and a constructed super-boundary crossing where routed
    and flat MUST differ (test_hierarchical_routing_actually_diverges).
    Below the gate (≤ 64 lists) the assignment is bit-exactly the flat
    argmax.

    Width contract: ``dim`` is the embedding width, the table contract
    every vector kernel takes.  A vector outside it (NULL, a NULL element
    among the first ``dim``, fewer than ``dim`` elements) and a zero-norm
    vector have a NULL cosine against every row (:func:`_np_cosine`):
    they are kept and drop nothing, as in the oracle, where DuckDB's
    out-of-range ``v[i]`` and ``x/0`` are NULL.
    """
    from lab_flink_repository_analytics_spark.session import (
        persist_bounded,
        rebalance,
    )

    cut = _round6_ge_cut(threshold)
    # assignments feed two consumers (the grouped pair scan and the final
    # keep join) — persist so the quantizer pass runs once, and rebalance
    # so a narrow local scan spreads before the per-vector centroid
    # scoring (no-op on a many-split cluster scan).
    # two-level routed assignment: SemDeDup's quantizer grows with the
    # corpus (k = n/512), so the flat argmax would be O(n²/512) — the
    # hierarchical router keeps it O(n·√k) and degenerates bit-exactly to
    # the flat Arrow argmax for small quantizers (n_super = 1)
    asg = persist_bounded(
        hierarchical_assignments(
            rebalance(vectors), centroids, id_col, vec_col
        ).select("id", "v", F.col("cid").alias("cluster_id")),
        "similarity.semdedup.asg",
    )
    dropped = _semdedup_dropped_arrow(asg, dim, cut)
    return (
        asg.join(dropped.withColumn("dropped", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


def hard_negatives(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    *,
    dim: int,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-k
    most cosine-similar candidates with a DIFFERENT label — the negatives
    closest to the decision boundary.  Output (query_id, neg_id, rank,
    cos_sim).

    Same plan as :func:`brute_force_topk` with the label inequality as
    the pair filter (NULL labels never pair).  At scale, swap the
    candidate scan for the IVF/LSH bucketed variants exactly as with ANN.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    c = rebalance(candidates).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("nlabel"),
    )
    return _ann_topk(
        queries, c, k, id_col, vec_col, dim, label_col=label_col
    ).withColumnRenamed("neighbor_id", "neg_id")


def kmeans_lloyd_df(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means in pure DataFrame ops, engine-exact:
    returns the final (``id_col``, cluster_id) assignment.

    Determinism contract (what makes a DuckDB oracle possible where
    MLlib's float k-means is not): init = the k lowest-id vectors
    (:func:`sampled_centroids`); assignment = cosine argmax in the
    oracle's ``ORDER BY cs DESC, cid`` (a NULL initial centroid is a
    column of NULL cosines, ranked last); update = per-dimension EXACT-decimal mean
    rounded to 6 places (order-independent across partitions, same as
    :func:`group_centroids`).  Empty clusters keep their previous
    centroid.

    Scale shape per iteration: assignment is one Arrow pass of
    :func:`_arrow_assignments` (NO shuffle — centroids are driver-held
    model state, k ≤ MAX_INLINE_CENTROIDS by contract, exactly how MLlib
    holds centers); the update is :func:`group_centroids` over the assignment
    (one per-cluster hash aggregation of ``dim`` flat decimal sums, with
    ``dim`` the widest initial centroid's width).  The driver round-trips
    k×dim scalars per iteration — bounded model state, never data.
    """
    cents = sampled_centroids(vectors, k, id_col, vec_col).collect()
    dim = _quantizer_width(cents)
    asg = None
    for it in range(iters):
        asg = _arrow_assignments(vectors, cents, 1, id_col, vec_col)
        if it == iters - 1:
            # the returned assignment is computed from the centroids as
            # they stand at the top of the final iteration; the final
            # update's centroids are never read again, so running its
            # aggregation + collect was one whole dead data pass per call
            # (round-10, guide §2.4 — the output plan is bit-identical
            # with or without it)
            break
        upd = group_centroids(asg, ["cid"], vec_col="v", dim=dim).collect()
        new = {r["cid"]: [float(x) for x in r["centroid"]] for r in upd}
        cents = [
            {"cid": c["cid"], "cv": new.get(c["cid"], c["cv"])} for c in cents
        ]
    return asg.select(F.col("id").alias(id_col), F.col("cid").alias("cluster_id"))


def mean_pairwise_cosine(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Mean pairwise cosine similarity WITHIN each group — the corpus
    redundancy/diversity signal a SemDeDup-style curation pass reads per
    source/label before deciding how aggressively to deduplicate it.

    O(N·d), never O(N²): with unit-normalized rows ``u_i`` the identity
    ``Σ_{i≠j} u_i·u_j = ‖Σ_i u_i‖² − Σ_i ‖u_i‖²`` reduces the all-pairs
    mean to two moments — per-dim component sums and per-row self-dots.
    Both are DECIMAL sums of deterministic doubles
    (order-independent under any partitioning — the
    :func:`covariance_matrix` float policy), so the result is bit-stable
    across shuffle layouts and has an exact DuckDB twin.  Plan: ONE
    per-group HashAggregate with map-side partials holds the count, the
    self-dot sum and ``dim`` flat per-dimension SUMs (shuffle volume
    #groups rows per map partition).  Groups with a single vector report
    NULL (no pairs).  Output: (``group_col``, n_vectors, mean_cos).

    Preconditions enforced up front (not silently skewed into the mean):
    rows with a NULL embedding or a zero-norm embedding cannot contribute
    a unit vector, so they are excluded from ``n_vectors`` too; NULL group
    labels are dropped — a null-keyed "group" has no curation meaning.
    The squared component sum is accumulated as DECIMAL(38,10) (28 integer
    digits), so per-group size is bounded by ~1e13 worst-case-aligned unit
    vectors before overflow — not the ~31M a (30,15) cast would allow.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    # Stage the norm into a COLUMN before the per-element division
    # (round-10): interpreted HOF lambdas get no common-subexpression
    # elimination, so a lambda-captured ``norm(vec)`` expression
    # re-evaluated the whole 64-term fold per ELEMENT — measured 10×
    # (1.43 s → 0.14 s for this projection at sf0.1), bit-identical
    # results (same operand order, only the evaluation count changes).
    rows = (
        rebalance(vectors)
        .where(F.col(group_col).isNotNull() & F.col(vec_col).isNotNull())
        .withColumn("_nrm", norm(vec_col))
        .where(F.col("_nrm") > 0)
        .select(
            F.col(group_col).alias("grp"),
            # the divisor is NULL-guarded (not just filtered) so ANSI mode
            # cannot raise DIVIDE_BY_ZERO when codegen evaluates the
            # projection alongside the filter; guarded rows are already
            # excluded by the _nrm > 0 predicate above
            F.transform(
                F.col(vec_col),
                lambda x: x.cast("double")
                / F.when(F.col("_nrm") > 0, F.col("_nrm")),
            ).alias("u"),
        )
    )
    n = F.col("n_vectors")
    # ``dim`` flat SUM aggregates in the SAME HashAggregate as
    # n_vectors/ssum (round-10): no posexplode multiplying rows ×dim
    # through a Generate before the exchange, one pass over ``rows`` and
    # no join.  DECIMAL sums are exact, hence order- and
    # grouping-independent; ``F.get`` yields NULL past a narrow row's
    # width (SUM skips it, like the oracle's unnest generates no row
    # there), and a dim no row reaches enters the ``+`` chain as an exact
    # decimal zero via coalesce.  Rows WIDER than ``dim`` would lose
    # their tail dims — out of contract, same stance as
    # embedding_near_dup's width contract.
    g = rows.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(dot("u", "u").cast("decimal(30,15)")).alias("ssum"),
        *[
            F.sum(F.get("u", d).cast("decimal(30,15)")).alias(f"_s{d}")
            for d in range(dim)
        ],
    )
    sq = [
        F.coalesce(
            (F.col(f"_s{d}").cast("double") * F.col(f"_s{d}").cast("double")).cast(
                "decimal(38,10)"
            ),
            F.lit(0).cast("decimal(38,10)"),
        )
        for d in range(dim)
    ]
    sumsq = sq[0]
    for term in sq[1:]:
        sumsq = sumsq + term
    return g.select(
        F.col("grp").alias(group_col),
        n,
        F.when(
            n > 1,
            F.round(
                (sumsq.cast("double") - F.col("ssum").cast("double"))
                / (n * (n - 1)),
                6,
            ),
        ).alias("mean_cos"),
    )


#: fixed-point limb base: products sum on the 2^-50 = 1/_LIMB² grid
_LIMB = 1 << 25
#: rows per limb partial: |hi| < 2^37 per product, so a partial's Σhi
#: stays below 2^57 and its int64 sums cannot wrap at any Arrow batch size
_LIMB_ROWS = 1 << 20
#: products per NumPy block of :func:`_np_moment_partials` (bounds the
#: Python worker's temporaries, not the result)
_MOMENT_BLOCK = 1 << 19


def _np_limbs(P):
    """int64 limbs ``hi = floor(p·2^25)``, ``lo = rint(p·2^50) − hi·2^25``
    of float64 ``|p| < 2^12``: ``hi·2^25 + lo == rint(p·2^50)`` exactly,
    since every scaling is by a power of two, ``floor``/``rint``
    (half-even) of a double below 2^62 convert to int64 unchanged, and
    ``lo`` lies in [0, 2^25]."""
    import numpy as np

    hi = np.floor(P * float(_LIMB)).astype(np.int64)
    lo = np.rint(P * float(_LIMB * _LIMB)).astype(np.int64) - hi * _LIMB
    return hi, lo


#: rows of :func:`_np_moment_partials`: a limb partial (``p`` NULL) or one
#: product outside the fixed-point range (``hi``/``lo``/``n`` NULL)
_MOMENT_SCHEMA = "i0 int, j0 int, hi bigint, lo bigint, n bigint, p double"


def _np_moment_partials(cv):
    """Record batches (:data:`_MOMENT_SCHEMA`) of Σx_i·x_j partials of an
    Arrow ``list<double>`` column, upper triangle ``i0 ≤ j0`` (0-based),
    under the row contract of a double ``posexplode``: a NULL or empty
    vector adds nothing, a row of width ``w`` covers only its ``j0 < w``
    cells (rows group by width), and a NULL element counts in ``n`` and
    in neither sum.

    Per width group and per ≤ :data:`_LIMB_ROWS` rows, one row per cell
    carries the int64 sums of the :func:`_np_limbs` of the products with
    ``|p| < 2^12`` (NULL when the cell has none) and the row count
    ``n``.  Every other non-NULL product (``|p| ≥ 2^12``, NaN, ±inf)
    goes out as its own ``p`` row, for the DECIMAL(30,15) sum."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [f.split()[0] for f in _MOMENT_SCHEMA.split(", ")]
    lens = pc.fill_null(pc.list_value_length(cv), 0).to_numpy(zero_copy_only=False)
    starts = cv.offsets.to_numpy()[:-1]
    x = cv.values.to_numpy(zero_copy_only=False)
    valid = None
    if cv.values.null_count:
        valid = cv.values.is_valid().to_numpy(zero_copy_only=False)
    for w in np.unique(lens[lens > 0]):
        at = starts[lens == w][:, None] + np.arange(w)
        X, ok_x = x[at], None if valid is None else valid[at]
        iu, ju = np.triu_indices(w)
        i0, j0 = pa.array(iu, pa.int32()), pa.array(ju, pa.int32())
        cells = len(iu)
        step = max(1, _MOMENT_BLOCK // cells)
        for c0 in range(0, len(X), _LIMB_ROWS):
            c1 = min(len(X), c0 + _LIMB_ROWS)
            hi_s = np.zeros(cells, dtype=np.int64)
            lo_s = np.zeros(cells, dtype=np.int64)
            k = np.zeros(cells, dtype=np.int64)
            for b0 in range(c0, c1, step):
                b1 = min(c1, b0 + step)
                with np.errstate(all="ignore"):
                    P = X[b0:b1, iu] * X[b0:b1, ju]
                    small = np.abs(P) < 2.0**12  # NaN: False, as in Spark
                if ok_x is None:
                    wide = ~small
                else:
                    ok = ok_x[b0:b1, iu] & ok_x[b0:b1, ju]
                    small &= ok
                    wide = ~small & ok
                hi, lo = _np_limbs(np.where(small, P, 0.0))
                hi_s += hi.sum(axis=0)
                lo_s += lo.sum(axis=0)
                k += small.sum(axis=0)
                wr, wc = np.nonzero(wide)
                if wr.size:
                    cell = pa.array(wc)
                    nul = pa.nulls(len(wr), pa.int64())
                    cols = [i0.take(cell), j0.take(cell), nul, nul, nul]
                    yield pa.RecordBatch.from_arrays(
                        [*cols, pa.array(P[wr, wc])], names=names
                    )
            none = k == 0
            yield pa.RecordBatch.from_arrays(
                [
                    i0,
                    j0,
                    pa.array(hi_s, mask=none),
                    pa.array(lo_s, mask=none),
                    pa.repeat(pa.scalar(c1 - c0, pa.int64()), cells),
                    pa.nulls(cells, pa.float64()),
                ],
                names=names,
            )


def covariance_matrix(
    vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Sample covariance matrix of the embedding column: (i, j, cov) with
    1-based dims, upper triangle (i ≤ j).

    Engine-exact two-pass moments, (Σxy − Σx·Σy/n)/(n−1) in double,
    rounded to 6; NULL where fewer than two rows cover the pair (ragged
    widths).  Σ x_i·x_j: one ``mapInArrow`` pass evaluates the double
    products per batch in NumPy and emits per-cell partials
    (:func:`_np_moment_partials`) — exact BIGINT limb sums of the
    products below 2^12 on the 2^-50 half-even grid (Spark's BIGINT
    sums of the partials raise under ANSI past ~2^26 rows per cell
    instead of wrapping), joined per cell as one DECIMAL(38,0) integer
    and rounded to double once, plus a
    DECIMAL(30,15) sum of the others (NaN/±inf cast to NULL, |p| ≥ 1e15
    raises), added in double.  Σ x_i: a DECIMAL(30,15) sum of the
    doubles, the oracle's HALF_UP rounding, built once and broadcast to
    both sides.  Every sum is exact, hence order-independent at any
    partitioning and batch size; only the products' rounding grid
    differs from the DuckDB oracle's (2^-50 half-even, ≤ 4.4e-16 per
    product, instead of 1e-15 HALF_UP, ≤ 5e-16), and ``cov`` is pinned
    cell-for-cell to the per-product DECIMAL form in the tests.  Plan:
    no row expansion — the Python worker sends dim(dim+1)/2 partial rows
    per batch plus the rare wide products, so the shuffle is
    model-sized.  This is the X^T X building block of distributed PCA.
    """

    def moment_batches(batches):
        for b in batches:
            yield from _np_moment_partials(b.column(0))

    v = vectors.select(F.col(vec_col).cast("array<double>").alias("v"))
    fixed = (
        F.sum("hi").cast("decimal(38,0)") * _LIMB + F.sum("lo")
    ).cast("double") * 2.0**-50
    wide = F.sum(F.col("p").cast("decimal(30,15)")).cast("double")
    mom = (
        v.mapInArrow(moment_batches, _MOMENT_SCHEMA)
        .groupBy("i0", "j0")
        .agg(
            F.coalesce(wide + fixed, wide, fixed).alias("sxy"),
            F.sum("n").alias("n"),
        )
    )
    dims = (
        v.select(F.posexplode("v").alias("i0", "x"))
        .groupBy("i0")
        .agg(F.sum(F.col("x").cast("decimal(30,15)")).alias("sx"))
    )
    # the same dims plan on both sides of the pair, so AQE reuses its
    # broadcast for the j side instead of a second scan and aggregate
    d1, d2 = F.broadcast(dims.alias("d1")), F.broadcast(dims.alias("d2"))
    n = F.col("n")
    return (
        mom.join(d1, mom["i0"] == F.col("d1.i0"))
        .join(d2, mom["j0"] == F.col("d2.i0"))
        .select(
            (mom["i0"] + 1).cast("int").alias("i"),
            (mom["j0"] + 1).cast("int").alias("j"),
            F.when(
                n > 1,
                F.round(
                    (
                        F.col("sxy")
                        - F.col("d1.sx").cast("double")
                        * F.col("d2.sx").cast("double")
                        / n
                    )
                    / (n - 1),
                    6,
                ),
            ).alias("cov"),
        )
    )
