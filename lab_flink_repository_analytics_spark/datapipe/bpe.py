"""Distributed BPE merge training (Sennrich et al. 2016) in pure
DataFrame ops — tokenizer training as a corpus operator, the byte-pair
sibling of :mod:`datapipe.similarity`'s Lloyd k-means.

Shape of the algorithm on Spark:

* the corpus collapses ONCE into the word-frequency table (Heaps' law:
  distinct words ≪ corpus tokens, and the word count is a classic
  map-side-partial hash aggregate — the only pass that ever touches
  100 TB);
* each merge iteration is one hash aggregate over (adjacent-pair →
  Σ word_freq) on the word table plus a ``TakeOrderedAndProject`` argmax
  (no single-partition sort — Spark plans ``orderBy().first()`` as a
  top-1 per partition + driver merge);
* the ONLY driver-held state is the model itself: one (left, right,
  freq) triple per iteration, exactly like k-means holding k×dim
  centroid scalars — the word table never collects;
* applying a merge is a codegen string ``replace`` on the word's
  symbol-sequence representation — no Python hop, no shuffle.

Greedy left-to-right non-overlapping merge application (the BPE
contract) is encoded purely in the representation: a word's symbol
sequence is stored as ``SEP s1 SEP SEP s2 SEP ... SEP`` — every symbol
wrapped in single separators, symbols split by the doubled separator.
The pair (a, b) then occurs as the substring ``SEP a SEP SEP b SEP``,
adjacent occurrences never share characters, and one plain ``replace``
(left-to-right by definition in both Spark and DuckDB) performs the
exact greedy merge — including the aaa → (aa)a case.  The separator is
U+001F (unit separator), RESERVED by this module: any U+001F embedded in
input words is stripped at representation build (it is not whitespace,
so it would otherwise survive tokenization and corrupt the symbol
framing) — pinned identically in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe.text import tokens

#: symbol-boundary marker inside a word representation (reserved: any
#: occurrence embedded in input words is stripped at representation build)
SEP = "\u001f"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wc) over the corpus — the single corpus-scale pass
    (rebalanced first: a narrow local scan must spread before the
    amplifying token explode; no-op on a many-split cluster scan)."""
    from lab_flink_repository_analytics_spark.session import rebalance

    return (
        rebalance(docs)
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )


def _initial_rep(word) -> F.Column:
    """Word → SEP-wrapped single-character symbol sequence (the reserved
    separator char itself is stripped from the input)."""
    chars = F.regexp_extract_all(word, F.lit("[^" + SEP + "]"), 0)
    return F.concat(F.lit(SEP), F.array_join(chars, SEP + SEP), F.lit(SEP))


def _pair_counts(words_rep: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word frequency.

    One hash aggregate over the WORD table (not the corpus); symbols are
    recovered from the representation by stripping the outer separators
    and splitting on the doubled one.
    """
    # lookahead-capture regex, the same codegen pattern as
    # text.gram_strings: one match per adjacent-symbol boundary, capture
    # "left SEPSEP right", normalize the separator to the space the pair
    # key uses after the explode.  The former
    # transform(sequence(...), element_at...) build ran INTERPRETED per
    # position and re-evaluated the captured split-of-substring per
    # element (no CSE inside lambda bodies); the regex is whole-stage
    # codegen and was both value-identical and fastest of the three
    # candidate forms on the sf0.1 word table (round-10 A/B: 0.14 s vs
    # 0.21 s current vs 0.19 s staged-column, per materialization).
    # Symbols never contain SEP (stripped at representation build) and
    # are non-empty, so [^SEP]+ is exact.
    pat = SEP + "(?=([^" + SEP + "]+" + SEP + SEP + "[^" + SEP + "]+)" + SEP + ")"
    caps = F.regexp_extract_all(F.col("rep"), F.lit(pat), 1)
    return (
        words_rep.select(F.col("wc"), F.explode(caps).alias("g"))
        .select(
            "wc",
            F.replace(F.col("g"), F.lit(SEP + SEP), F.lit(" ")).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("freq"))
    )


def apply_merge(words_rep: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right merge of (left, right) — one codegen replace."""
    return words_rep.withColumn(
        "rep",
        F.replace(
            F.col("rep"),
            F.lit(SEP + left + SEP + SEP + right + SEP),
            F.lit(SEP + left + right + SEP),
        ),
    )


def train_state(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    repersist_every: int = 8,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run the merge loop; returns (merge list, post-merge word table).

    The merge list IS the model — (step, left, right, merged, freq)
    driver-held scalars; the returned word table (w, wc, rep) carries the
    fully-merged representation for downstream segmentation.

    Ties break deterministically: highest frequency, then lexicographically
    smallest ``"left right"`` pair string — pinned identically in the
    DuckDB oracle (``ORDER BY freq DESC, pair ASC LIMIT 1``).

    Every ``repersist_every`` merges the word table is eagerly
    re-materialized (localCheckpoint, predecessor cache released): each
    ``apply_merge`` stacks a ``replace`` on the lineage, so without the
    cut, iteration i would recompute all i-1 prior merges in every
    pair-count pass — quadratic work and unboundedly deep codegen plans at
    realistic vocab sizes (thousands of merges).  Between cuts the plan is
    at most ``repersist_every`` replaces over a materialized base — the
    same bounded-lineage pattern as Lloyd k-means' iterative persists.
    """
    from lab_flink_repository_analytics_spark.session import (
        persist_bounded,
        release_persist_slot,
    )

    cur = persist_bounded(
        word_frequencies(docs, text_col).select(
            "w", "wc", _initial_rep(F.col("w")).alias("rep")
        ),
        "bpe.words",
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(cur)
            .orderBy(F.desc("freq"), F.asc("pair"))
            .first()
        )
        if top is None:
            break
        left, right = top["pair"].split(" ", 1)
        merges.append((step, left, right, left + right, top["freq"]))
        cur = apply_merge(cur, left, right)
        if step % repersist_every == 0:
            # materialize the new state FIRST, then drop the old base —
            # releasing before the checkpoint would force a from-scratch
            # recompute of the whole merge chain
            cur = cur.localCheckpoint(eager=True)
            release_persist_slot("bpe.words")
    return merges, cur


def subwords() -> Column:
    """ARRAY<STRING> of a word's symbols under the merges applied so far:
    the ``rep`` column with its outer separators stripped, split on the
    doubled one — the one reader of the representation format."""
    return F.split(F.expr("substring(rep, 2, length(rep) - 2)"), SEP + SEP)
