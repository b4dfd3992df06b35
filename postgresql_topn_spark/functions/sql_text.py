"""SQL-defined text-analysis functions — the operators/text.py surface
exposed to pure ``spark.sql()`` users through Spark SQL UDFs
(``CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN <expr>``).

Like the topn scalar and table functions in functions/sql_api.py (whose
GROUPED_AGG UDAFs alone stay Python, since SQL cannot define an
aggregate), SQL UDFs have NO Python anywhere: Catalyst inlines the
RETURN expression into the calling plan at analysis time, so
``SELECT quality_score(text) FROM docs`` plans as the same
whole-stage-codegen projection as the Column API — full scan speed on
a 1000-executor cluster, usable by BI tools and SQL-only consumers.

Every function body is a hand-translated twin of its Column
implementation in operators/text.py / operators/sampling.py, and
tests/test_sql_text.py pins SQL == Column VALUE EQUALITY over the
documents fixture plus the hostile edge rows (NULL, empty,
whitespace-only, tab/newline-led text) — the same twin-surface
discipline as the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Shared expression fragments (Spark SQL syntax). {t} is the argument.
_TOKS = r"filter(split(trim({t}), '\\s+'), x -> x != '')"
_NTOK = f"size({_TOKS})"
_STOP = (
    r"size(regexp_extract_all(lower({t}),"
    r" '\\b(the|a|and|of|to|is|in|it|on|for)\\b', 0))"
)
_PUNCT = r"size(regexp_extract_all({t}, '[^A-Za-z0-9\\s]', 0))"


def _marker(lang_pat: str) -> str:
    return (
        r"size(regexp_extract_all(lower({t}), '\\b("
        + lang_pat
        + r")\\b', 0))"
    )


_MARKERS = {
    "en": _marker("the|and|of|is|to"),
    "de": _marker("der|die|und|nicht|das"),
    "es": _marker("el|la|que|los|una"),
    "fr": _marker("le|les|des|est|une"),
}

_DEFS: dict[str, str] = {
    "ws_token_count": f"(t STRING) RETURNS INT RETURN {_NTOK}".replace(
        "{t}", "t"
    ),
    "bpe_token_count": (
        "(t STRING) RETURNS INT RETURN "
        r"size(regexp_extract_all(t, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))"
    ),
    "lang_id": (
        "(t STRING) RETURNS STRING RETURN CASE "
        + "WHEN greatest("
        + ", ".join(_MARKERS.values())
        + ") <= 0 THEN 'und' "
        + "".join(
            f"WHEN {m} = greatest(" + ", ".join(_MARKERS.values()) + f") THEN '{lang}' "
            for lang, m in _MARKERS.items()
        )
        + "ELSE 'und' END"
    ).replace("{t}", "t"),
    "quality_score": (
        "(t STRING) RETURNS DOUBLE RETURN CASE "
        f"WHEN t IS NULL OR char_length(t) = 0 OR {_NTOK} = 0 "
        "THEN CAST(NULL AS DOUBLE) "
        "ELSE round("
        f"least(CAST({_NTOK} AS DOUBLE) / 100.0, 1.0) * 0.5"
        f" + least(try_divide(CAST({_STOP} AS DOUBLE),"
        f" CAST({_NTOK} AS DOUBLE)) * 3.0, 1.0) * 0.3"
        f" + (1.0 - least(try_divide(CAST({_PUNCT} AS DOUBLE),"
        " CAST(char_length(t) AS DOUBLE)) * 10.0, 1.0)) * 0.2"
        ", 6) END"
    ).replace("{t}", "t"),
    "hash_uniform": (
        "(key STRING, seed INT) RETURNS DOUBLE RETURN "
        "CAST(conv(substr(md5(concat(cast(seed AS STRING), ':', key)),"
        " 1, 15), 16, 10) AS BIGINT)"
        " / CAST(1152921504606846976 AS DOUBLE)"
    ),
    "fingerprint_md5": (
        "(t STRING) RETURNS STRING RETURN "
        f"md5(array_join(array_sort(array_distinct({_TOKS})), ' '))"
    ).replace("{t}", "t"),
}


# ---------------------------------------------------------------------------
# Published C4+Gopher struct twins (round 9): the flagship curation
# filter stack for pure-SQL consumers. Bodies are generated from the
# same fragments the Column implementations compose, and
# tests/test_sql_text.py pins SQL == Column STRUCT equality over the
# corpus + hostile edge rows. Like every function here, these inline
# into the calling plan — zero Python, scan-stage.
# ---------------------------------------------------------------------------

# Derived from the package's single source of truth (ADVICE r9): a
# change to the shared tables propagates here at import time instead of
# silently desynchronizing until a parity test fires. The tables live
# in the leaf module `published_constants` — NOT operators/text — so
# this lightweight SQL surface never imports the operator stack
# (ADVICE r10 layering / circular-import risk).
from postgresql_topn_spark.published_constants import (  # noqa: E402
    GOPHER_DUP_NGRAM_MAX,
    GOPHER_QUALITY_BOUNDS,
    GOPHER_STOPWORDS,
    GOPHER_TOP_NGRAM_MAX,
)

_GOPHER_STOPS = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
_LINES = r"filter(split({t}, '\n'), l -> char_length(trim(l)) > 0)"
_PARAS = r"filter(split({t}, '\n\n'), p -> char_length(trim(p)) > 0)"


def _run_stats_sql(arr: str) -> str:
    """SQL twin of operators/text._run_char_stats: one sorted fold ->
    struct(top_chars, dup_chars) with DataTrove semantics (argmax by
    count, ties toward larger mass; dup counts repeats beyond the
    first; >= 2 occurrences to count)."""
    same = "(acc.prev IS NOT NULL AND x = acc.prev)"
    counted = "(acc.prev IS NOT NULL AND acc.run >= 2)"
    mass = "acc.run * CAST(char_length(acc.prev) AS BIGINT)"
    better = (
        f"({counted} AND (acc.run > acc.best_run OR "
        f"(acc.run = acc.best_run AND {mass} > acc.best)))"
    )
    dupinc = (
        f"IF({counted}, acc.dup + (acc.run - 1)"
        " * CAST(char_length(acc.prev) AS BIGINT), acc.dup)"
    )
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', CAST(NULL AS STRING),"
        " 'run', CAST(0 AS BIGINT), 'best_run', CAST(0 AS BIGINT),"
        " 'best', CAST(0 AS BIGINT), 'dup', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        f"'run', IF({same}, acc.run + 1, CAST(1 AS BIGINT)), "
        f"'best_run', IF({same}, acc.best_run,"
        f" IF({better}, acc.run, acc.best_run)), "
        f"'best', IF({same}, acc.best, IF({better}, {mass}, acc.best)), "
        f"'dup', IF({same}, acc.dup, {dupinc})), "
        f"acc -> named_struct("
        f"'top_chars', IF({better}, {mass}, acc.best), "
        f"'dup_chars', {dupinc}))"
    )


def _shingles_sql(toks: str, k: int) -> str:
    els = ", ".join(f"element_at({toks}, i + {j})" for j in range(k))
    return (
        f"CASE WHEN size({toks}) >= {k} THEN"
        f" transform(sequence(1, size({toks}) - {k - 1}),"
        f" i -> concat_ws(' ', {els}))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _gram_frac_sql(toks: str, k: int, kind: str) -> str:
    stats = _run_stats_sql(_shingles_sql(toks, k))
    return (
        "round(least(CAST(1.0 AS DOUBLE), coalesce(try_divide("
        f"CAST(({stats}).{kind}_chars AS DOUBLE),"
        " CAST(char_length({t}) AS DOUBLE)), CAST(0.0 AS DOUBLE))), 6)"
    )


def _family_sql(arr: str) -> "tuple[str, str]":
    stats = _run_stats_sql(arr)
    total = (
        f"aggregate({arr}, CAST(0 AS BIGINT),"
        " (acc, e) -> acc + CAST(char_length(e) AS BIGINT))"
    )
    dup_frac = (
        "round(CAST(1.0 AS DOUBLE) - try_divide("
        f"CAST(size(array_distinct({arr})) AS DOUBLE),"
        f" CAST(size({arr}) AS DOUBLE)), 6)"
    )
    dup_cf = (
        f"round(try_divide(CAST(({stats}).dup_chars AS DOUBLE),"
        f" CAST({total} AS DOUBLE)), 6)"
    )
    return dup_frac, dup_cf


def _gopher_quality_def() -> str:
    nd = f"CAST({_NTOK} AS DOUBLE)"
    char_sum = (
        f"aggregate({_TOKS}, CAST(0 AS BIGINT),"
        " (acc, w) -> acc + CAST(char_length(w) AS BIGINT))"
    )
    mwl = f"round(try_divide(CAST({char_sum} AS DOUBLE), {nd}), 6)"
    n_hash = "(char_length({t}) - char_length(replace({t}, '#', '')))"
    n_ellipsis = (
        "((char_length({t}) - char_length(replace({t}, '...', ''))) / 3"
        " + (char_length({t}) - char_length(replace({t}, '…', ''))))"
    )
    swr = (
        f"round(try_divide(CAST({n_hash} + {n_ellipsis} AS DOUBLE),"
        f" {nd}), 6)"
    )
    nl = f"CAST(size({_LINES}) AS DOUBLE)"
    bullet = (
        f"round(try_divide(CAST(size(filter({_LINES},"
        " l -> ltrim(l) RLIKE '^[-*•]')) AS DOUBLE),"
        f" {nl}), 6)"
    )
    ellip = (
        f"round(try_divide(CAST(size(filter({_LINES},"
        r" l -> rtrim(l) RLIKE '(\\.\\.\\.|…)$')) AS DOUBLE),"
        f" {nl}), 6)"
    )
    alpha = (
        f"round(try_divide(CAST(size(filter({_TOKS},"
        " w -> w RLIKE '[a-zA-Z]')) AS DOUBLE),"
        f" {nd}), 6)"
    )
    stops = (
        f"CAST(size(array_intersect(array_distinct(transform({_TOKS},"
        f" w -> lower(w))), array({_GOPHER_STOPS}))) AS BIGINT)"
    )
    nw = f"CAST({_NTOK} AS BIGINT)"
    B = GOPHER_QUALITY_BOUNDS
    passes = (
        f"({nw} >= {B['n_words_min']} AND {nw} <= {B['n_words_max']}"
        f" AND {mwl} >= {B['mean_word_len_min']}"
        f" AND {mwl} <= {B['mean_word_len_max']}"
        f" AND {swr} <= {B['symbol_word_ratio_max']}"
        f" AND coalesce({bullet}, CAST(0.0 AS DOUBLE))"
        f" <= {B['bullet_line_frac_max']}"
        f" AND coalesce({ellip}, CAST(0.0 AS DOUBLE))"
        f" <= {B['ellipsis_line_frac_max']}"
        f" AND {alpha} >= {B['alpha_word_frac_min']}"
        f" AND {stops} >= {B['n_stop_hits_min']})"
    )
    ddl = (
        "STRUCT<n_words: BIGINT, mean_word_len: DOUBLE,"
        " symbol_word_ratio: DOUBLE, bullet_line_frac: DOUBLE,"
        " ellipsis_line_frac: DOUBLE, alpha_word_frac: DOUBLE,"
        " n_stop_hits: BIGINT, passes: BOOLEAN>"
    )
    body = (
        f"CASE WHEN {{t}} IS NULL OR char_length({{t}}) = 0"
        f" OR {_NTOK} = 0 THEN CAST(NULL AS {ddl}) ELSE named_struct("
        f"'n_words', {nw}, 'mean_word_len', {mwl},"
        f" 'symbol_word_ratio', {swr}, 'bullet_line_frac', {bullet},"
        f" 'ellipsis_line_frac', {ellip}, 'alpha_word_frac', {alpha},"
        f" 'n_stop_hits', {stops}, 'passes', {passes}) END"
    )
    return f"(t STRING) RETURNS {ddl} RETURN {body}".replace("{t}", "t")


def _gopher_repetition_def() -> str:
    dlf, dlcf = _family_sql(_LINES)
    dpf, dpcf = _family_sql(_PARAS)
    fields = [
        ("dup_line_frac", dlf),
        ("dup_line_char_frac", dlcf),
        ("dup_para_frac", dpf),
        ("dup_para_char_frac", dpcf),
    ]
    conds = [
        f"coalesce({dlf}, CAST(0.0 AS DOUBLE)) <= 0.30",
        f"coalesce({dlcf}, CAST(0.0 AS DOUBLE)) <= 0.20",
        f"coalesce({dpf}, CAST(0.0 AS DOUBLE)) <= 0.30",
        f"coalesce({dpcf}, CAST(0.0 AS DOUBLE)) <= 0.20",
    ]
    for kind, caps in (
        ("top", GOPHER_TOP_NGRAM_MAX),
        ("dup", GOPHER_DUP_NGRAM_MAX),
    ):
        for k, cap in caps.items():
            frac = _gram_frac_sql("t2", k, kind)
            fields.append((f"{kind}_{k}gram_char_frac", frac))
            conds.append(f"{frac} <= {cap}")
    ddl = (
        "STRUCT<"
        + ", ".join(f"{n}: DOUBLE" for n, _ in fields)
        + ", passes: BOOLEAN>"
    )
    struct = (
        "named_struct("
        + ", ".join(f"'{n}', {e}" for n, e in fields)
        + ", 'passes', ("
        + " AND ".join(conds)
        + "))"
    )
    # _bind twin: the token array is evaluated ONCE as the lambda var
    # t2; every gram family references the variable, not the split
    body = (
        f"CASE WHEN {{t}} IS NULL OR char_length({{t}}) = 0"
        f" OR {_NTOK} = 0 THEN CAST(NULL AS {ddl}) ELSE"
        f" element_at(transform(array({_TOKS}), t2 -> {struct}), 1) END"
    )
    return f"(t STRING) RETURNS {ddl} RETURN {body}".replace("{t}", "t")


def _c4_clean_def() -> str:
    kept = (
        f"filter({_LINES}, l -> trim(l) RLIKE '[.!?\"]$'"
        r" AND size(filter(split(trim(l), '\\s+'),"
        " w -> char_length(w) > 0)) >= 5"
        " AND NOT contains(lower(l), 'javascript'))"
    )
    clean = f"array_join({kept}, '\\n')"
    n_sent = (
        f"CAST(char_length({clean})"
        f" - char_length(translate({clean}, '.!?', '')) AS BIGINT)"
    )
    passes = (
        f"({n_sent} >= 3 AND NOT contains(lower({{t}}), 'lorem ipsum')"
        " AND NOT contains({t}, '{{'))"
    )
    ddl = (
        "STRUCT<clean_text: STRING, n_lines: BIGINT,"
        " n_lines_kept: BIGINT, n_sentences: BIGINT, passes: BOOLEAN>"
    )
    body = (
        f"CASE WHEN {{t}} IS NULL OR char_length({{t}}) = 0"
        f" THEN CAST(NULL AS {ddl}) ELSE named_struct("
        f"'clean_text', {clean},"
        f" 'n_lines', CAST(size({_LINES}) AS BIGINT),"
        f" 'n_lines_kept', CAST(size({kept}) AS BIGINT),"
        f" 'n_sentences', {n_sent}, 'passes', {passes}) END"
    )
    return (
        f"(t STRING) RETURNS {ddl} RETURN {body}"
        .replace("{t}", "t")
        .replace("{{", "{")
    )


_DEFS["gopher_quality_signals"] = _gopher_quality_def()
_DEFS["gopher_repetition_signals"] = _gopher_repetition_def()
_DEFS["c4_clean"] = _c4_clean_def()


def register_text_sql_functions(spark: SparkSession) -> None:
    """CREATE OR REPLACE the text-analysis SQL functions on this
    session: ws_token_count, bpe_token_count, lang_id, quality_score,
    fingerprint_md5, hash_uniform, and the published C4+Gopher structs
    (gopher_quality_signals, gopher_repetition_signals, c4_clean).
    Idempotent; session-scoped (temporary functions, the
    register_sql_functions convention)."""
    for name, body in _DEFS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
