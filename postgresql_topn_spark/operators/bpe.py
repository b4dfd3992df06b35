"""Distributed BPE (byte-pair-encoding) tokenizer training — the
"train a vocabulary on your own corpus" step of an LLM data pipeline
(Sennrich et al. 2016), run as Spark aggregations instead of a
single-machine counter.

Algorithm shape (the classic word-level BPE): collapse the corpus to
DISTINCT words with frequencies once (one hash-agg exchange — the only
pass over raw text; 100 TB of text is typically ~10^7-10^8 distinct
words), represent each word as a symbol array ending in the
end-of-word marker, then iterate: count adjacent symbol pairs
(weighted by word frequency, map-side combined), take the most
frequent pair (deterministic tie-break: lexicographic), rewrite every
word's symbol array with that pair merged, repeat. Every iteration is
one small job over the distinct-words DataFrame; the words DF is
checkpoint-persisted every few rounds so the plan doesn't grow
unboundedly (the connected-components pattern).

The in-array pair merge is a pure Catalyst fold (aggregate over the
symbol array carrying a (prev-symbol, out-array) state), so training
never ships word arrays through Python. `bpe_encode` applies a learned
merge list to new text via an Arrow-batched pandas UDF (the classic
apply loop — Python, but per-batch and only over the text being
tokenized).

Training is iterative and engine-specific (argmax ties + fixpoint), so
it carries pytest pins (hand-computed merges on a known corpus,
determinism across partitionings) rather than a DuckDB twin — the same
scope as the xxhash64 SimHash form (STATUS.md).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.sketch import _col
from postgresql_topn_spark.operators.checkpointing import stage_cut
from postgresql_topn_spark.operators.text import tokens

EOW = "</w>"  # end-of-word sentinel: multi-char, so it can never collide
# with the single-character start symbols, and \s+ tokens cannot contain it


def _word_table(docs: DataFrame, text_col: Column | str) -> DataFrame:
    """(symbols array<string>, cnt) distinct-word table: the ONLY scan
    of raw text in training."""
    words = (
        docs.select(F.explode(tokens(_col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    symbols = F.concat(
        F.split(F.col("w"), ""),  # per-character symbols
        F.array(F.lit(EOW)),
    )
    return words.select(symbols.alias("syms"), "cnt")


def _sql_lit(s: str) -> str:
    """Spark SQL string expression for an arbitrary symbol that parses
    the same under either spark.sql.parser.escapedStringLiterals mode:
    no quote or backslash ever sits inside a quoted string (the modes
    disagree on both), they are spliced in as chr(39) / chr(92). The
    concat of literals is constant-folded, so the plan holds one
    literal either way."""
    parts = re.split(r"(['\\])", s)
    if len(parts) == 1:
        return f"'{s}'"
    return "concat(" + ", ".join(
        f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'"
        for p in parts
        if p
    ) + ")"


def _merge_pair_sql(syms_sql: str, a: str, b: str) -> str:
    """Rewrite a symbol array with every adjacent (a, b) merged to a+b
    — a single left fold, JVM-side. Overlapping runs merge
    left-to-right (aaa + merge(a,a) -> [aa, a]), matching the
    reference BPE implementations.

    Built as ONE SQL string rather than the Column/HOF builder (r14,
    guide §1.2 driver-side cost): each Column-form merge expression
    cost ~100 ms of py4j round trips constructing the nested lambdas
    (cProfiled 0.83 s per gate over 8 merges), while the parser takes
    the whole composed expression in one call. The tree is the same —
    nested when/otherwise IS a flattened CASE, struct(x.alias('a'))
    IS named_struct — pinned value-identical on quote/backslash
    symbols in test_bpe."""
    la, lb, lab = _sql_lit(a), _sql_lit(b), _sql_lit(a + b)
    return (
        f"aggregate({syms_sql}, cast(array() as array<string>), "
        f"(acc, s) -> CASE WHEN size(acc) = 0 THEN array(s) "
        f"WHEN element_at(acc, -1) = {la} AND s = {lb} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({lab})) "
        f"ELSE concat(acc, array(s)) END)"
    )


# adjacent symbol pairs of one word as (a, b) structs — static SQL for
# the same reason as _merge_pair_sql (one parse vs ~30 py4j calls)
_PAIR_EXPLODE_SQL = (
    "explode(zip_with(slice(`syms`, 1, size(`syms`) - 1), "
    "slice(`syms`, 2, size(`syms`) - 1), "
    "(x, y) -> named_struct('a', x, 'b', y)))"
)


def _select_batch(
    rows: list[tuple[str, str, int]],
    m: int,
    truncated: bool,
    prior_concats: set[str],
) -> list[tuple[str, str]]:
    """Pick the longest SAFE prefix of the sorted candidate pairs such
    that applying the whole batch in order provably equals m sequential
    argmax rounds (so ``batch_m > 1`` never changes the learned merges,
    it only cuts scheduler round-trips).

    Safety argument — after merging the accepted prefix p_1..p_k:
    1. PREFIX + DISJOINT: accepted pairs are a *prefix* of the
       (count DESC, a, b) order with pairwise-disjoint symbols, so each
       p_j's count is untouched by earlier batch merges, and every pair
       that overlaps some p_i sorts strictly below the prefix.
    2. CUTOFF: each accepted p_j (j >= 2) must have count strictly
       above the first non-accepted candidate's count. Overlapping
       pairs only lose occurrences, and brand-new pairs created by
       merging p_i inherit occurrences of pairs overlapping p_i — both
       are bounded by that cutoff, so nothing can climb past p_j before
       its turn.
    3. FRESHNESS: p_i's merged string a+b must not equal any symbol
       already alive (every multi-char symbol is the concat of a prior
       merge, or the EOW marker — single chars can't collide with a
       2+-char concat). A non-fresh concat would let an EXISTING pair's
       count increase past the cutoff bound in (2).
    4. SELF-PAIR TERMINATOR: an accepted self-pair (a, a) ENDS the
       prefix. Merging (a, a) over a run "aaaa…" creates pairs —
       (aa, aa) from even positions, (aa, a) at odd run tails — whose
       counts derive from (a, a)'s OWN occurrences, which sit at or
       above the prefix, NOT below the cutoff, so rule (2)'s bound does
       not apply to them and nothing after the self-pair is provable.
       (Counterexample without this rule: corpus "aaaaaa"×60 +
       "cde"/"cdf"×50 — sequential learns [(a,a),(aa,aa),(c,d)] but an
       unterminated batch of 2 would emit [(a,a),(c,d),…].) Accepting
       the self-pair itself is safe: earlier accepts are disjoint from
       it, so its count is untouched. Non-self pairs are immune: a new
       pair created by merging (a, b) inherits occurrences of some pair
       overlapping (a, b) — e.g. (ab, ab) from "abab" inherits (b, a) —
       and every overlapping pair sorts below the prefix.
    p_1 is always safe: it is the true argmax of the current state."""
    if not rows:
        return []
    used: set[str] = set()
    concats = set(prior_concats) | {EOW}
    batch: list[tuple[str, str]] = []
    cutoff: int | None = None
    for a, b, n in rows[:m]:
        if batch and (a in used or b in used or (a + b) in concats):
            cutoff = n
            break
        if (a + b) in concats:
            # the ARGMAX itself re-creates an alive symbol: existing
            # pairs around that symbol gain occurrences, so no later
            # pick is provable — take p_1 alone.
            return [rows[0][:2]]
        batch.append((a, b))
        used.update((a, b, a + b))
        concats.add(a + b)
        if a == b:
            # rule (4): nothing after a self-pair is provable; the
            # accepted prefix still owes the cutoff discipline against
            # the first non-accepted candidate (an overlapping pair at
            # EQUAL count could seed a new pair that wins a lexicographic
            # tie at a later sequential turn).
            if len(rows) > len(batch):
                cutoff = rows[len(batch)][2]
            break
    if cutoff is None and truncated and len(rows) > m:
        cutoff = rows[m][2]
    if cutoff is not None:
        kept = [rows[0][:2]]  # the argmax is unconditionally correct
        for (a, b), (_, _, n) in zip(batch[1:], rows[1:]):
            if n > cutoff:
                kept.append((a, b))
            else:
                break  # prefix property must survive the truncation
        batch = kept
    return batch


def train_bpe(
    docs: DataFrame,
    text_col: Column | str = "text",
    *,
    n_merges: int = 40,
    min_pair_count: int = 2,
    persist_every: int = 8,
    batch_m: int = 1,
    checkpoint_dir: "str | None" = None,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merge rules from the corpus. Returns the
    ordered merge list (apply order = learn order). Stops early when no
    pair reaches `min_pair_count`.

    ``batch_m > 1`` selects up to that many merges per Spark job using
    the provably-order-equivalent prefix rule (see _select_batch): the
    result is IDENTICAL to batch_m=1 (pytest-pinned), but a 10k-merge
    vocabulary runs ~batch-size× fewer scheduler round-trips. Each
    round stays one job: one TakeOrdered collect of batch_m+1 rows.

    The word table's periodic lineage cut defaults to executor-local
    blocks; pass ``checkpoint_dir`` (HDFS/S3) for RELIABLE cuts that
    survive executor loss — the same contract as `lr_train` and
    `connected_components` (operators/checkpointing.py). Same merges
    either way (pytest-pinned)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if batch_m < 1:
        raise ValueError(f"batch_m must be >= 1, got {batch_m}")
    base = _word_table(docs, text_col).persist()
    base.count()  # materialize the single raw-text scan
    words = base
    merges: list[tuple[str, str]] = []
    rounds_since_persist = 0
    prev_cut = None  # the live reliable cut (checkpoint_dir mode only)
    try:
        while len(merges) < n_merges:
            m = min(batch_m, n_merges - len(merges))
            pairs = words.select(
                F.expr(_PAIR_EXPLODE_SQL).alias("p"), "cnt"
            )
            top = (
                pairs.groupBy("p")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
                .limit(m + 1)
                .collect()
            )
            rows = [
                (r["p"]["a"], r["p"]["b"], r["n"])
                for r in top
                if r["n"] >= min_pair_count
            ]
            if not rows:
                break
            batch = _select_batch(
                rows,
                m,
                truncated=len(top) == m + 1,
                prior_concats={a + b for a, b in merges},
            )
            merges.extend(batch)
            syms_sql = "`syms`"
            for a, b in batch:
                syms_sql = _merge_pair_sql(syms_sql, a, b)
            words = words.select(F.expr(syms_sql).alias("syms"), "cnt")
            rounds_since_persist += 1
            if rounds_since_persist >= persist_every:
                # cut plan growth: the cut truncates lineage (reliable
                # when checkpoint_dir is set — iteration state then
                # survives executor loss)
                if checkpoint_dir is not None:
                    # supersedes= releases the PREVIOUS cut once this
                    # one is on disk — O(1) dir footprint across
                    # rounds. The handle must be the CUT frame itself:
                    # `words` has been re-selected since the last cut,
                    # and cut paths don't propagate through
                    # transformations (review pin).
                    words = stage_cut(
                        words, checkpoint_dir, supersedes=prev_cut
                    )
                    prev_cut = words
                else:
                    words = words.localCheckpoint(eager=True)
                rounds_since_persist = 0
    finally:
        base.unpersist()
        if prev_cut is not None:
            # only the merges list leaves this function — the last
            # word-table cut is dead weight the moment training ends
            from postgresql_topn_spark.operators.checkpointing import (
                release_cut,
            )

            release_cut(docs.sparkSession, prev_cut)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: Column | str = "text",
    *,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize text with a learned merge list: per word, start from
    characters + EOW and apply every merge in learn order (the
    classic greedy BPE apply). Arrow-batched pandas UDF — Python runs
    only over the text being encoded, merge rules ride the closure."""
    from pyspark.sql.functions import pandas_udf

    rules = list(merges)

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        ranks = {pair: i for i, pair in enumerate(rules)}

        def enc_word(w: str) -> list[str]:
            syms = list(w) + [EOW]
            while len(syms) > 1:
                best, best_rank = None, None
                for j in range(len(syms) - 1):
                    r = ranks.get((syms[j], syms[j + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = j, r
                if best is None:
                    break
                syms = (
                    syms[:best]
                    + [syms[best] + syms[best + 1]]
                    + syms[best + 2 :]
                )
            return syms

        import re as _re

        # the TRAINER tokenizes with Java \s+ (ASCII whitespace:
        # [ \t\n\x0B\f\r]) via text.tokens(); Python str.split() splits
        # on UNICODE whitespace too, so a word containing U+00A0 (NBSP)
        # would train as ONE word but encode as two (review pin) — split with the
        # exact Java class
        _java_ws = _re.compile(r"[ \t\n\x0b\f\r]+")

        def enc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in (w for w in _java_ws.split(t) if w):
                out.extend(
                    t
                    for t in (s.removesuffix(EOW) for s in enc_word(w))
                    if t  # a standalone EOW symbol strips to empty: drop
                )
            return out

        return texts.map(enc)

    return docs.select(id_col, encode(_col(text_col)).alias(out_col))
