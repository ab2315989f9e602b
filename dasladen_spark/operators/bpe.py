"""Distributed BPE merge learning — byte-pair-encoding vocabulary
induction over a corpus, Sennrich-style.

The tokenizer-training step of an LLM data pipeline: learn the top-N
symbol merges from corpus statistics. The classic algorithm is
sequential, but its data access is not: every round needs (1) a
weighted count of adjacent symbol pairs and (2) a rewrite of the
word table applying the winning merge. Both distribute:

- the corpus collapses to a DISTINCT-WORD frequency table first
  (one groupBy; 100 TB of text → vocabulary-sized table, the classic
  trick that makes BPE training corpus-size-independent afterwards);
- pair counting is a JVM-side ``transform(sequence(...))`` explode +
  map-side-combined sum — no Python in the hot path;
- only the winning pair (ONE row) is collected per round;
- the merge rewrite is a pure-JVM aggregate() fold over the
  word table (no Python worker anywhere in BPE since round 10).

Each round persists its rewrite and unpersists the previous one, so
lineage stays O(1) deep across rounds. Determinism: ties on pair
frequency break lexicographically, so the merge list is a pure
function of the corpus — proven against a pure-Python reference
implementation in tests/test_operators.py.

Beyond-reference operator (the reference delegates all query power
to an RDBMS, /root/reference/dasladen/task.py:94-107).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.functions.text import tokens_col


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercased [a-z0-9]+ tokens — the corpus
    statistic BPE trains on. One explode + one map-side-combined
    count; everything after this touches only distinct words."""
    return (
        docs.select(
            F.explode(tokens_col(text_col)).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_expr(left: str, right: str, syms_col: str = "syms"):
    """Rewrite a symbol sequence applying one merge greedily
    left-to-right — pure JVM since round 10 (the last non-multimodal
    pandas UDF): an ``aggregate()`` fold whose accumulator is the
    rewritten prefix. At each symbol: if the accumulator's LAST
    element is ``left`` and the symbol is ``right``, replace that
    last element with the merged symbol, else append.

    This fold IS the sequential greedy scan (i += 2 on a merge): a
    merged output element can never re-match as ``left`` within the
    same pass because ``left + right`` is strictly longer than
    ``left`` (symbols are non-empty) — so "a a a" under (a, a) folds
    to [aa, a], and "a a a a" to [aa, aa], exactly like the scanner.
    O(len²) array copies per word, over the vocabulary-sized distinct
    word table only — never the corpus."""
    merged = left + right
    return F.aggregate(
        F.col(syms_col),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def learn_bpe_merges(
    words: DataFrame, n_merges: int = 12
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.
    Returns [(left, right, pair_freq)] in merge order. Stops early if
    no adjacent pair remains."""
    syms = words.select(
        F.split(F.col("word"), "").alias("syms"), F.col("freq")
    ).persist()
    syms.count()
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            pairs = F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            top = (
                syms.select(F.explode(pairs).alias("p"), "freq")
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, n = top[0]["l"], top[0]["r"], top[0]["n"]
            merges.append((l, r, n))
            nxt = syms.select(
                _merge_expr(l, r).alias("syms"), "freq"
            ).persist()
            try:
                nxt.count()  # materialize before dropping the parent
            except Exception:
                # release the fresh persist before re-raising — the
                # outer finally only knows about the current syms
                nxt.unpersist()
                raise
            syms.unpersist()
            syms = nxt
    finally:
        syms.unpersist()
    return merges


def learn_bpe_merges_local(
    word_freqs: list[tuple[str, int]], n_merges: int = 12
) -> list[tuple[str, str, int]]:
    """Pure-Python reference implementation (same tie-break), used by
    the differential test and small-corpus callers."""
    table = [(list(w), f) for w, f in word_freqs]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in table:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, n))
        new_table = []
        for syms, f in table:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_table.append((res, f))
        table = new_table
    return merges
