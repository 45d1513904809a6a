"""Deterministic text operators over the web-page table.

The reference has no text analog — per SURVEY.md §2.4 note, the driver's
``text`` column is extractor ground truth and the engine must preserve the
byte-identical-text-per-url invariant. The extractor here is the inverse of
the synthesizer in codem_spark/synth.py: html wraps text with entity
escaping; extraction unwraps + unescapes, byte-identically.

The language-ID / quality / token / fingerprint operators are the
training-data-pipeline family (engine-new, no reference analog) — all pure
Spark column expressions so they whole-stage-codegen over 100 TB without a
Python worker in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------- extraction
_BODY_RE = r"(?s)<article>(.*?)</article>"


def escape_html_col(text: Column) -> Column:
    """Entity-escape (synth side). Order matters: & first."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )


def unescape_html_col(html_text: Column) -> Column:
    """Inverse of escape_html_col: &lt; &gt; first, &amp; last."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(html_text, "&lt;", "<"), "&gt;", ">"),
        "&amp;",
        "&",
    )


def extract_text_col(html: Column) -> Column:
    """html (binary) -> text, byte-identical to the stored ``text`` column.

    Pure JVM path: decode UTF-8, pull the <article> payload, unescape
    entities. regexp_extract returns '' when no match (malformed page)."""
    s = F.decode(html, "UTF-8")
    return unescape_html_col(F.regexp_extract(s, _BODY_RE, 1))


# ------------------------------------------------------------ text analysis
_STOPWORDS = (
    "the of and a to in is it you that he was for on are as with his they i "
    "at be this have from or one had by word but not what all were we when "
    "your can said there use an each which she do how their if"
).split()

# Tiny deterministic per-language marker sets for n-gram-heuristic lang id.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " nicht ", " ist "],
    "fr": [" le ", " les ", " est ", " une ", " dans "],
    "es": [" el ", " los ", " que ", " una ", " por "],
    "zh": ["的", "是", "了", "在", "我"],
}


def token_count_col(text: Column) -> Column:
    """Whitespace tokenization count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def stopword_ratio_col(text: Column) -> Column:
    low = F.lower(text)
    toks = F.split(F.trim(low), r"\s+")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    return F.when(n > 0, stop.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation ratio +
    stopword ratio (the standard webtext quality trio)."""
    n = F.length(text).cast("double")
    len_score = F.least(F.lit(1.0), n / F.lit(500.0)) * F.when(
        n > 50000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", "")).cast("double")
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    punct_score = F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    stop_score = F.least(F.lit(1.0), stopword_ratio_col(text) * F.lit(4.0))
    return F.round((len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3), 6)


def lang_id_col(text: Column) -> Column:
    """N-gram-marker language ID: count marker hits per language, take the
    argmax (ties break by language order; 'und' when no hits)."""
    low = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        s = None
        for m in markers:
            cnt = (F.length(low) - F.length(F.regexp_replace(low, F.lit(m), F.lit("")))) / F.lit(
                max(len(m), 1)
            )
            s = cnt if s is None else s + cnt
        scores.append(F.struct(s.cast("double").alias("score"), F.lit(lang).alias("lang")))
    arr = F.array(*scores)
    best = F.array_max(arr)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


_FP_MODULUS = 1_000_000_007


def fingerprint_col(text: Column) -> Column:
    """Deterministic document fingerprint: polynomial rolling hash of the
    lower-cased, whitespace-normalized text, via xxhash64 of the normalized
    form (JVM-side, stable across partitions/runs)."""
    return F.pmod(F.xxhash64(normalized_text_col(text)), F.lit(_FP_MODULUS))


def normalized_text_col(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


#: query params dropped by canonical_url_col (tracking noise)
_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "msclkid=", "ref=")


def canonical_url_col(url: Column) -> Column:
    """Web-dedup URL canonicalization, pure JVM column expressions (stays
    inside whole-stage codegen — no UDF):

    - drop the fragment (``#...``)
    - lowercase scheme and authority (path/query case is preserved)
    - strip default ports (``http://h:80`` / ``https://h:443``)
    - drop tracking query params (utm_*, fbclid, gclid, msclkid, ref)
    - sort surviving query params and rejoin (param order never
      distinguishes documents)
    - drop an empty ``?`` and reduce a bare ``/`` root path to none

    The exact rule set is the usual crawl-dedup normalization (canonical
    form is for GROUPING, not for fetching)."""
    u = F.split(url, "#", 2).getItem(0)
    base = F.split(u, r"\?", 2).getItem(0)
    # F.get, not getItem: a URL without '?' yields a 1-element split and
    # ANSI mode makes out-of-range getItem THROW instead of returning null
    query = F.get(F.split(u, r"\?", 2), 1)
    auth = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    rest = F.substring(base, F.length(auth) + F.lit(1), F.lit(1_000_000))
    auth = F.lower(auth)
    auth = F.regexp_replace(auth, r"^(http://[^/:]+):80$", "$1")
    auth = F.regexp_replace(auth, r"^(https://[^/:]+):443$", "$1")
    path = F.when(rest == "/", F.lit("")).otherwise(rest)

    def _keep(p: Column) -> Column:
        cond = p == ""
        for pref in _TRACKING_PREFIXES:
            cond = cond | p.startswith(pref)
        return ~cond

    params = F.array_sort(F.filter(F.split(F.coalesce(query, F.lit("")), "&"), _keep))
    qstr = F.array_join(params, "&")
    return F.concat(
        auth, path,
        F.when(qstr != "", F.concat(F.lit("?"), qstr)).otherwise(F.lit("")),
    )


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonical_url_col` (oracle parity)."""
    keep = " AND ".join(
        ["p <> ''"] + [f"NOT starts_with(p, '{pref}')" for pref in _TRACKING_PREFIXES]
    )
    u = f"str_split({expr}, '#')[1]"
    base = f"str_split({u}, '?')[1]"
    query = f"CASE WHEN len(str_split({u}, '?')) > 1 THEN str_split({u}, '?')[2] ELSE '' END"
    auth = f"regexp_extract({base}, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)"
    rest = f"substring({base}, length({auth}) + 1)"
    lauth = (
        f"regexp_replace(regexp_replace(lower({auth}), '^(http://[^/:]+):80$', '\\1'),"
        f" '^(https://[^/:]+):443$', '\\1')"
    )
    path = f"CASE WHEN {rest} = '/' THEN '' ELSE {rest} END"
    qstr = (
        f"array_to_string(list_sort(list_filter(str_split({query}, '&'),"
        f" p -> {keep})), '&')"
    )
    return (
        f"concat({lauth}, {path}, CASE WHEN {qstr} <> '' THEN concat('?', {qstr})"
        f" ELSE '' END)"
    )
