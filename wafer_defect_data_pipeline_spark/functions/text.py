"""Text-analysis column functions (extension surface, SURVEY.md §2.9).

Everything here is built from native ``pyspark.sql.functions`` — tokenize,
shingle, score, fingerprint all stay JVM-side in WholeStageCodegen; no
Python executes per row. Each building block is therefore also expressible
in ANSI SQL for the DuckDB oracle.

Design note for 100 TB: these are embarrassingly parallel projections (no
shuffle); cost is dominated by the parquet scan, so they pipeline for free
behind any filter Catalyst pushes down.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword lang-id heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
}

TOKEN_SPLIT_RE = r"\s+"
#: BPE-ish word/number/punct splitter for subword-style token estimates
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), TOKEN_SPLIT_RE)


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c)))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Subword-style token estimate: count of letter-runs, digit-runs, puncts."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))


def stopword_ratio(text: Column | str, stopwords: list[str]) -> Column:
    """Fraction of whitespace tokens that are in ``stopwords``."""
    toks = tokens(text)
    # (not array_intersect — that dedups; multiplicity matters for the ratio)
    hits = F.size(F.filter(toks, lambda t: t.isin(stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Heuristic [0,1] quality: length sweet-spot, low punct, some stopwords.

    Deterministic combination of the three ratios — a screening score for
    training-data curation, same shape as C4/Gopher-style quality rules.
    """
    sw = stopwords or LANG_STOPWORDS["en"]
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c) / F.lit(400.0), F.lit(1.0))
    sw_score = F.least(stopword_ratio(c, sw) * 4.0, F.lit(1.0))
    punct_penalty = F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    return F.round(0.4 * len_score + 0.4 * sw_score + 0.2 * (1.0 - punct_penalty), 6)


def detect_language_from_tokens(
    toks: Column, lang_stopwords: dict[str, list[str]] | None = None
) -> Column:
    """Stopword-vote language id over a PRE-TOKENIZED array column.

    The argmax when-chain references each language's hit count twice, and
    Spark evaluates repeated subexpressions per reference — so the caller
    should tokenize ONCE into a column (behind a lineage-truncating pin if
    the projection would otherwise be collapsed back into the chain; the
    regex split is ~10x the cost of the array scans it feeds). Returns
    'und' when no list scores > 0; ties break by language-code sort order.
    """
    table = lang_stopwords or LANG_STOPWORDS
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(table):  # later langs must beat, not tie, earlier ones
        hits = F.size(F.filter(toks, lambda t: t.isin(table[lang])))
        take = hits > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def token_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (word n-grams joined by a single space).

    Built as ``arrays_zip`` of k shifted slices of the token array, NOT as
    ``transform(sequence(...), i -> slice(toks, i, k))``: a lambda that
    references the token array re-evaluates the whole regex-split subtree
    once per shingle INDEX under interpreted HOF evaluation (~n_tokens× per
    row; measured ~10× slower on the documents table). Here the split runs
    ~k times per row and each lambda touches only its own zipped element.

    Docs with fewer than k tokens yield one whole-text shingle — the zip
    pads missing positions with null and ``concat_ws`` skips nulls, so the
    first zipped struct IS the full token join; no special-case branch.
    """
    toks = tokens(text)
    n = F.size(toks)
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, 2_147_483_632) for j in range(k)])
    window = F.slice(zipped, 1, F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(window, lambda s: F.concat_ws(" ", *[s.getField(str(j)) for j in range(k)]))
    )


def token_ngrams(text: Column | str, k: int = 2) -> Column:
    """ALL k-token n-grams in order (duplicates kept — multiplicity matters
    for repetition metrics, unlike :func:`token_shingles`).

    Same zip-of-shifted-slices shape as :func:`token_shingles` (and the same
    <k-token padding: a short doc yields one whole-text n-gram), minus the
    ``array_distinct``.
    """
    toks = tokens(text)
    n = F.size(toks)
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, 2_147_483_632) for j in range(k)])
    window = F.slice(zipped, 1, F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(window, lambda s: F.concat_ws(" ", *[s.getField(str(j)) for j in range(k)]))


def dup_token_ratio(text: Column | str) -> Column:
    """Fraction of tokens that repeat an earlier token (0 = all distinct).

    Gopher-style repetition signal; pure array projection (no shuffle, no
    interpreted HOF lambda touching the split subtree).
    """
    toks = tokens(text)
    n = F.size(toks)
    return F.round((n - F.size(F.array_distinct(toks))) / F.greatest(n, F.lit(1)), 6)


#: conservative PII screening patterns — identical semantics in Java regex
#: (Spark) and RE2 (DuckDB): no backrefs, no lookaround
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_ipv4) occurrence counts — a screening pass, not a
    validator (over-matching is the right bias for curation review queues)."""
    c = F.col(text) if isinstance(text, str) else text
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0))
    n_ips = F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), 0))
    return n_emails, n_ips


def fingerprint_md5(text: Column | str) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercase text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def rolling_min_fingerprint(text: Column | str, k: int = 3) -> Column:
    """Winnowing-style fingerprint: minimum md5 over the doc's token shingles.

    Near-identical docs share many shingles, so their min-hash collides with
    probability = Jaccard similarity — this single value is both a compact
    doc signature and the 1-permutation building block of MinHash dedup.
    """
    sh = token_shingles(text, k)
    return F.array_min(F.transform(sh, lambda s: F.md5(s)))


#: script/style elements whose CONTENT must go, not just the tags
HTML_BLOCK_RE = r"(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
#: tags and entities both rewrite to whitespace — one alternation, one pass
HTML_TAG_ENTITY_RE = r"<[^>]+>|&[A-Za-z]+;|&#[0-9]+;"


def strip_html(text: Column | str) -> Column:
    """Main-content extraction: drop script/style blocks, strip tags and
    entities, collapse whitespace.

    Pure chained ``regexp_replace`` — JVM-side, codegen'd, no shuffle, and
    exactly THREE passes (blocks, tags+entities, whitespace): every pass
    rewrites the full string, so pass count is the constant factor that
    dominates at corpus scale. The patterns avoid backreferences on
    purpose so the SAME regexes run under Java's engine here and RE2 in
    the DuckDB oracle; ``(?s)`` + lazy ``.*?`` are common to both. This is
    the boilerplate-removal step a crawl-ingest pipeline runs before any
    text statistic; tag-dense chrome (nav/footer/script) contributes zero
    retained characters.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, HTML_BLOCK_RE, " ")
    c = F.regexp_replace(c, HTML_TAG_ENTITY_RE, " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))
