"""Corpus cleaning operators: C4 page/line quality filters, unicode text
normalization, and URL canonicalization.

All three are shuffle-free single-scan operators (the 100-TB shape: a
cleaning pass must never cost more than one read of the corpus). The C4
filter and URL canonicalizer are pure JVM SQL expressions (whole-stage
codegen); unicode normalization is the one genuinely non-SQL step and
runs as a single Arrow-batched pandas UDF (`Series.str.normalize`, a
vectorized pandas string op) sandwiched between JVM-side regex cleanup
stages.

No reference counterpart (the reference is a forecasting engine,
`/root/reference/src/`); these implement the public corpus-cleaning
recipes: C4 (Raffel et al. 2020, JMLR — §2.2 heuristics) and standard
crawl URL canonicalization (RFC 3986 normalization + tracking-param
strip).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType

from anofox_forecast_spark._worker import hooked

# Query parameters stripped by the URL canonicalizer: click/campaign
# trackers that never change page content. Prefix match for utm_*,
# exact-key match for the rest. Pinned here so the DuckDB oracle can
# reproduce the same list.
TRACKING_PARAM_REGEX = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|ref)="

# characters C4 counts as sentence-terminal (Raffel et al. 2020 §2.2:
# "terminal punctuation mark (i.e. a period, exclamation mark, question
# mark, or end quotation mark)")
_TERMINAL_RE = r'[.!?"]$'
_SENTENCE_CHARS_RE = r"[^.!?]"
# C0 controls except \t \n \r, plus DEL — stripped by normalize_text
_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def c4_page_filters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    banned_words: list[str] | None = None,
) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2) as one shuffle-free
    pass: per-line keep rules + page-level verdict.

    Line rules (a line survives iff ALL hold):
      * ends in a terminal punctuation mark (``. ! ? "``),
      * has at least ``min_words_per_line`` whitespace words,
      * does not contain the word "javascript" (case-insensitive).

    Page rules (``keep_page``):
      * at least ``min_sentences`` sentence terminators in the retained
        text,
      * no ``{`` anywhere on the page (code placeholder),
      * no "lorem ipsum" (case-insensitive),
      * none of ``banned_words`` appears as a (lowercased, punctuation-
        stripped) word token — C4's published bad-words page rule; the
        caller supplies the list (the published one is an external
        resource). ``None`` disables the rule; ``has_banned`` is still
        emitted (False) so the schema is stable.

    Returns (id, n_lines, n_kept, n_sentences, has_brace, has_lorem,
    has_banned, keep_page, clean_text) where clean_text is the surviving
    lines re-joined with newlines. Pure SQL expressions, no Exchange: the
    full verdict (not a survivors-only table) so a caller can audit drop
    reasons — same contract as ``decontaminate``.
    """
    t = F.col(text_col)
    mw = int(min_words_per_line)
    lines = F.transform(F.split(t, "\n"), lambda line: F.trim(line))
    lines = F.filter(lines, lambda line: line != F.lit(""))

    def _keep(line: Column) -> Column:
        n_words = F.size(F.array_remove(F.split(line, r"\s+"), ""))
        return (
            line.rlike(_TERMINAL_RE)
            & (n_words >= F.lit(mw))
            & ~F.lower(line).contains("javascript")
        )

    kept = F.filter(lines, _keep)
    clean = F.array_join(kept, "\n")
    # terminator count as a translate length-delta (single-pass char map)
    # instead of length(regexp_replace(clean, [^.!?], "")), which built a
    # full stripped copy of the page per row (same fix as quality_scores)
    n_sent = F.length(clean) - F.length(F.translate(clean, ".!?", ""))
    has_brace = t.contains("{")
    has_lorem = F.lower(t).contains("lorem ipsum")
    if banned_words:
        toks = F.array_remove(
            F.split(
                F.trim(F.regexp_replace(F.lower(t), r"[^\p{L}\p{N} ]", " ")),
                r" +",
            ),
            "",
        )
        has_banned = F.arrays_overlap(
            toks, F.lit([w.lower() for w in banned_words])
        )
    else:
        has_banned = F.lit(False)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        n_sent.cast("int").alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        has_banned.alias("has_banned"),
        (
            (n_sent >= F.lit(int(min_sentences)))
            & ~has_brace & ~has_lorem & ~has_banned
        ).alias("keep_page"),
        clean.alias("clean_text"),
    )


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Unicode normalization + control-char strip + whitespace collapse as
    one scan: (id, text_norm, n_chars_raw, n_chars_norm, changed).

    Stage order (each stage feeds the next, all in one projection):
      1. strip C0 control chars except tab/newline/CR, and DEL (JVM
         regexp_replace, codegen),
      2. Unicode-normalize to ``form`` (NFC/NFKC/NFD/NFKD) — the one
         step Spark has no builtin for; a single Arrow-batched pandas
         UDF using the vectorized ``Series.str.normalize``,
      3. optionally collapse all whitespace runs to single spaces and
         trim (JVM again).

    The NFC path is DuckDB-oracle-able (``nfc_normalize``), which pins
    the two engines' Unicode tables against each other — a genuine
    cross-engine contract, not a tautology.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    nf = form

    @F.pandas_udf(StringType())
    @hooked
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(nf)

    t = F.col(text_col)
    stripped = F.regexp_replace(t, _CONTROL_RE, "")
    normed = _norm(stripped)
    if collapse_whitespace:
        normed = F.trim(F.regexp_replace(normed, r"\s+", " "))
    out = df.select(
        F.col(id_col).alias("id"),
        t.alias("__raw"),
        normed.alias("text_norm"),
    )
    return out.select(
        "id",
        "text_norm",
        F.length("__raw").cast("int").alias("n_chars_raw"),
        F.length("text_norm").cast("int").alias("n_chars_norm"),
        (F.col("text_norm") != F.col("__raw")).alias("changed"),
    )


def canonicalize_urls(
    df: DataFrame,
    id_col: str,
    url_col: str,
    strip_www: bool = True,
) -> DataFrame:
    """Crawl-URL canonicalization for URL-level dedup, pure JVM SQL:
    (id, url_canon, scheme, host, path, query_canon, n_params_dropped).

    Normalization steps (RFC 3986 syntax-based normalization + the
    standard crawl-dedup extras):
      * drop the fragment (``#...``),
      * lowercase scheme and host,
      * strip a leading ``www.`` (when ``strip_www``),
      * strip default ports (``:80`` for http, ``:443`` for https),
      * collapse duplicate slashes in the path, strip one trailing
        slash (non-root), empty path → ``/``,
      * drop tracking query params (``utm_*``, fbclid, gclid, msclkid,
        mc_eid, ref — see TRACKING_PARAM_REGEX), sort the survivors
        bytewise, re-join.

    Every step is an engine-portable regex/array expression (no
    replacement backreferences — Java uses ``$1`` where RE2 uses
    ``\\1``, so the oracle would diverge), which keeps the whole
    operator inside whole-stage codegen and DuckDB-twin-able.
    """
    u0 = F.col(url_col)
    u = F.regexp_replace(u0, r"#.*$", "")  # fragment off first
    scheme = F.lower(F.regexp_extract(u, r"^([^:/?#]+)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    if strip_www:
        hostport = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, r":443$", "")
    ).otherwise(hostport)
    rest = F.regexp_replace(u, r"^[^:/?#]+://[^/?#]*", "")
    path = F.regexp_replace(rest, r"\?.*$", "")
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        (path != "/") & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    qs = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(F.split(qs, "&"), lambda p: p != F.lit(""))
    kept = F.filter(params, lambda p: ~p.rlike(TRACKING_PARAM_REGEX))
    q_canon = F.array_join(F.array_sort(kept), "&")
    url_canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q_canon != "", F.concat(F.lit("?"), q_canon)).otherwise(F.lit("")),
    )
    return df.select(
        F.col(id_col).alias("id"),
        url_canon.alias("url_canon"),
        scheme.alias("scheme"),
        host.alias("host"),
        path.alias("path"),
        q_canon.alias("query_canon"),
        (F.size(params) - F.size(kept)).cast("int").alias("n_params_dropped"),
    )


def url_filter(
    df: DataFrame,
    id_col: str,
    url_col: str,
    blocked_hosts: list[str] | None = None,
    blocked_extensions: list[str] | None = None,
    url_badwords: list[str] | None = None,
) -> DataFrame:
    """RefinedWeb-style URL pre-filtering (Penedo et al. 2023 §3.1: a
    domain blocklist, excluded file extensions, and bad words in the URL
    itself — the cheapest filter in the pipeline, so it runs FIRST,
    before any content is fetched or parsed).

    Verdict per page (full audit columns, same contract as
    ``c4_page_filters``):
      * ``host`` — lowercased authority (port stripped),
      * ``host_blocked`` — host equals a blocklist entry or is a
        subdomain of one (suffix match on ``.entry``),
      * ``ext_blocked`` — the path ends in a blocked extension
        (default: common non-text assets),
      * ``badword_hit`` — any ``url_badwords`` entry appears in the
        lowercased URL (substring, the published rule),
      * ``keep`` — none of the above.

    Pure JVM expressions (the host regex is the Java∩RE2 portable
    subset shared with ``canonicalize_urls``), shuffle-free,
    whole-stage codegen; the blocklists ride as literals (bounded
    config, not data). DuckDB twin in the driver oracle.
    """
    if blocked_extensions is None:
        blocked_extensions = ["jpg", "jpeg", "png", "gif", "css", "js",
                              "xml", "rss", "pdf", "zip", "gz", "exe"]
    u = F.lower(F.col(url_col))
    hostport = F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1)
    host = F.regexp_replace(hostport, r":\d+$", "")
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)

    host_blocked = F.lit(False)
    for h in blocked_hosts or []:
        h = h.lower()
        host_blocked = host_blocked | (host == h) | host.endswith("." + h)
    ext_blocked = F.lit(False)
    if blocked_extensions:
        ext_blocked = path.rlike(
            r"\.(" + "|".join(e.lower() for e in blocked_extensions) + r")$"
        )
    badword_hit = F.lit(False)
    for w in url_badwords or []:
        badword_hit = badword_hit | u.contains(w.lower())

    return df.select(
        F.col(id_col).alias("id"),
        host.alias("host"),
        host_blocked.alias("host_blocked"),
        ext_blocked.alias("ext_blocked"),
        badword_hit.alias("badword_hit"),
        (~host_blocked & ~ext_blocked & ~badword_hit).alias("keep"),
    )
