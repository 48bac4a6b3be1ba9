"""Text-analysis column expressions (beyond-reference).

Everything is built from ``pyspark.sql.functions`` — tokenization,
shingling, hashing, scoring all stay JVM-side (no Python UDFs), so
these run at full codegen speed over 100 TB of documents.

Hash choice: ``md5`` — identical output in Spark and DuckDB, which
makes every operator here differentially testable against the oracle
(engine-specific hashes like ``xxhash64`` would not cross-check).
MinHash signatures compare md5 hex strings lexicographically —
order-equivalent to comparing the underlying 128-bit integers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small + hard-coded: language ID at scale is
# a lookup-table scoring pass, not a model inference.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "una", "es", "por"],
    "zh": ["de", "shi", "le", "bu", "wo", "ni", "ta", "men", "zai", "you"],
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text → []."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def bpe_ish_tokens(col: Column) -> Column:
    """BPE-ish subword segmentation via regex: words, numbers, and
    individual punctuation marks as separate tokens (the common
    GPT-2-style pre-tokenizer shape, minus byte fallback)."""
    return F.expr(
        f"regexp_extract_all({_sql(col)}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"
    )


def _sql(col: Column) -> str:
    # Column → SQL identifier usable inside F.expr; relies on the
    # caller passing simple named columns for expr-based helpers.
    return col._jc.toString()  # type: ignore[attr-defined]


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(col) > 0, F.length(stripped) / F.length(col)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def mean_token_length(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] quality score: rewards mid-length docs, low
    punctuation density, and a healthy stopword ratio — the standard
    cheap pre-filter shape for LLM training-data pipelines."""
    n_tok = token_count(col).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 4)
    sw = stopword_ratio(col)
    sw_score = F.when(sw > 0.5, F.lit(0.5)).otherwise(
        F.least(sw * F.lit(4.0), F.lit(1.0))
    )
    return F.round((len_score + punct_pen + sw_score) / 3.0, 6)


def _nonempty_lines(col: Column) -> Column:
    return F.filter(
        F.split(col, "\n"), lambda ln: F.length(F.trim(ln)) > 0
    )


def alpha_token_frac(col: Column) -> Column:
    """Fraction of tokens containing at least one A-Za-z character
    (Gopher rule: >= 80% of words must). ASCII class only — the
    cross-engine regex subset (Java ∩ RE2) the PII family pinned."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(
        F.size(toks) > 0, hits.cast("double") / F.size(toks)
    ).otherwise(F.lit(0.0))


def bullet_line_frac(col: Column) -> Column:
    """Fraction of non-empty lines starting with a bullet marker
    (-, *, or the Unicode bullet) — Gopher drops docs over 90%."""
    lines = _nonempty_lines(col)
    first = lambda ln: F.substring(F.ltrim(ln), 1, 1)  # noqa: E731
    bullets = F.size(
        F.filter(lines, lambda ln: first(ln).isin("-", "*", "•"))
    )
    return F.when(
        F.size(lines) > 0, bullets.cast("double") / F.size(lines)
    ).otherwise(F.lit(0.0))


def ellipsis_line_frac(col: Column) -> Column:
    """Fraction of non-empty lines ending in an ellipsis ('...' or
    the single-char form) — Gopher drops docs over 30%."""
    lines = _nonempty_lines(col)
    ends = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...")
            | F.rtrim(ln).endswith("…"),
        )
    )
    return F.when(
        F.size(lines) > 0, ends.cast("double") / F.size(lines)
    ).otherwise(F.lit(0.0))


def symbol_token_ratio(col: Column) -> Column:
    """(# count + ellipsis count) / token count — the Gopher
    symbol-to-word ratio (rule: <= 0.1). '...' occurrences counted by
    length arithmetic so both engines agree on overlaps."""
    hashes = F.length(col) - F.length(F.regexp_replace(col, "#", ""))
    dots = (
        F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))
    ) / 3
    uni = F.length(col) - F.length(F.regexp_replace(col, "…", ""))
    n_tok = token_count(col)
    return F.when(
        n_tok > 0, (hashes + dots + uni).cast("double") / n_tok
    ).otherwise(F.lit(0.0))


#: Gopher rule thresholds (Rae et al. 2021, appendix A1.1 —
#: the published web-corpus quality gates this engine mirrors)
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MAX_SYMBOL_RATIO = 0.10
GOPHER_MAX_BULLET_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_FRAC = 0.30


def gopher_rules_pass(col: Column) -> Column:
    """Boolean: document passes all Gopher repetition-independent
    quality gates (token count, mean word length, alpha-token
    fraction, symbol ratio, bullet/ellipsis line fractions). The
    repetition gates live separately (dup_line_frac /
    top_bigram_char_frac metrics) so callers can tune them."""
    n_tok = token_count(col)
    mwl = mean_token_length(col)
    return (
        (n_tok >= GOPHER_MIN_TOKENS)
        & (n_tok <= GOPHER_MAX_TOKENS)
        & (mwl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mwl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (alpha_token_frac(col) >= GOPHER_MIN_ALPHA_FRAC)
        & (symbol_token_ratio(col) <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_line_frac(col) <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_line_frac(col) <= GOPHER_MAX_ELLIPSIS_FRAC)
    )


def lang_scores(col: Column) -> Column:
    """Map of language → stopword-hit count over the token set."""
    toks = F.array_distinct(tokens(F.lower(col)))
    entries = []
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        entries.append(
            F.struct(
                F.lit(lang).alias("lang"),
                F.size(F.array_intersect(toks, sw)).alias("hits"),
            )
        )
    return F.array(*entries)


def _argmax_lang(scored: Column) -> Column:
    """Deterministic argmax over an array<struct<lang,hits>>: sort by
    (-hits, lang) and take the head; 'und' when every score is 0."""
    best = F.sort_array(
        F.transform(
            scored, lambda s: F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang"))
        )
    )[0]
    top_hits = -best["neg"]
    return F.when(top_hits > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(col: Column) -> Column:
    """argmax over lang_scores; 'und' when no stopword hits at all."""
    return _argmax_lang(lang_scores(col))


# Characteristic character trigrams per language — a deliberately
# tiny, hard-coded profile (the classic Cavnar-Trenkle n-gram-profile
# idea reduced to a fixed lookup): language ID at corpus scale is a
# counting pass, not model inference. ALL entries are exactly 3 ASCII
# chars, so the removed-character count IS 3× the occurrence count
# and the argmax needs no division (keeps both engines in integer
# arithmetic). zh is pinyin — same documented toy as LANG_STOPWORDS.
LANG_CHAR_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", " th", "ing", " an", "nd "],
    "de": ["der", "ich", "sch", "ein", "die"],
    "fr": [" le", "les", "ent", "que", "des"],
    "es": [" el", "los", " la", "ado", "nte"],
    "zh": ["shi", "de ", "wo ", "ni ", "men"],
}


def lang_scores_ngram(col: Column) -> Column:
    """Map of language → total characters consumed by that language's
    trigram profile over ' ' || lower(text) || ' ' (padding so
    word-boundary grams fire at the edges). Pure length/replace
    arithmetic — codegen'd, exact, engine-portable."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    entries = []
    for lang, grams in LANG_CHAR_TRIGRAMS.items():
        hits = None
        for g in grams:
            h = F.length(padded) - F.length(F.replace(padded, F.lit(g), F.lit("")))
            hits = h if hits is None else hits + h
        entries.append(
            F.struct(F.lit(lang).alias("lang"), hits.cast("int").alias("hits"))
        )
    return F.array(*entries)


def lang_id_ngram(col: Column) -> Column:
    """Char-trigram-profile language ID (the n-gram heuristic);
    'und' when no profile gram occurs at all."""
    return _argmax_lang(lang_scores_ngram(col))


# --------------------------------------------------------------- cleaning
#
# Text cleaning / PII redaction for training-data pipelines. Every
# stage is a JVM-side regexp/replace chain (no Python), and every
# pattern sticks to the Java-regex ∩ RE2 subset (char classes, greedy
# quantifiers, \b, non-capturing groups; NO lookaround) so the DuckDB
# oracle computes byte-identical output with regexp_replace(..., 'g').

HTML_TAG_RE = "<[^>]*>"

# &amp; must be unescaped LAST: a single unescape pass must turn
# "&amp;lt;" into "&lt;", not "<".
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
# conservative: an international-ish digit run (≥8 chars incl.
# separators). Applied AFTER ip redaction — dotted quads would match.
PHONE_RE = "\\+?[0-9][0-9()\\-\\s.]{6,}[0-9]"

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"

# Structured-identifier PII. SSN before phone (a dashed SSN is
# phone-shaped); credit cards before both (a 16-digit run contains
# SSN/phone-shaped substrings once partially consumed). \b anchors
# keep a 4-4-4-4 card from matching inside longer digit runs.
SSN_RE = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
CC_RE = "\\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\\b"
SSN_TOKEN = "<SSN>"
CC_TOKEN = "<CC>"

#: kind -> (pattern, placeholder), in the REQUIRED application order:
#: emails (their dots/digits are unambiguous), then cards (longest
#: digit shape), then SSNs, then IPs, then the catch-all phone run.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (EMAIL_RE, EMAIL_TOKEN),
    "credit_card": (CC_RE, CC_TOKEN),
    "ssn": (SSN_RE, SSN_TOKEN),
    "ipv4": (IPV4_RE, IP_TOKEN),
    "phone": (PHONE_RE, PHONE_TOKEN),
}


def pii_count(col: Column, kind: str) -> Column:
    """Number of ``kind`` PII matches in the RAW text (long).

    Counts are taken per-pattern on the unredacted input — a density
    signal for filtering (drop docs with heavy PII load) rather than
    a redaction audit, so overlapping kinds (an SSN inside what the
    phone pattern would also match) are counted by each pattern that
    sees them. size(regexp_extract_all(...)) keeps it a codegen'd
    narrow map; DuckDB's len(regexp_extract_all(...)) mirrors it."""
    try:
        pattern = PII_PATTERNS[kind][0]
    except KeyError:
        raise ValueError(
            f"unknown pii kind {kind!r}; have {sorted(PII_PATTERNS)}"
        ) from None
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).cast("long")


def redact_all_pii(col: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Replace every PII kind with its typed placeholder, in the
    fixed PII_PATTERNS order (see the ordering comment there).
    ``kinds`` filters WHICH kinds redact; order stays fixed
    regardless of the order given."""
    wanted = set(PII_PATTERNS if kinds is None else kinds)
    unknown = wanted - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"unknown pii kinds {sorted(unknown)}")
    for kind, (pattern, token) in PII_PATTERNS.items():
        if kind in wanted:
            col = F.regexp_replace(col, pattern, token)
    return col


def strip_html(col: Column) -> Column:
    """Remove every <...> tag. Run BEFORE pii redaction — the
    placeholders are angle-bracketed and must survive."""
    return F.regexp_replace(col, HTML_TAG_RE, "")


def unescape_entities(col: Column) -> Column:
    """Single-pass unescape of the six common HTML entities."""
    for ent, rep in HTML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(rep))
    return col


def redact_pii(
    col: Column, emails: bool = True, ips: bool = True, phones: bool = True
) -> Column:
    """Replace emails / IPv4s / phone-like digit runs with typed
    placeholders. Order is fixed email → ip → phone: dotted quads
    are phone-shaped, so ips must be consumed first."""
    if emails:
        col = F.regexp_replace(col, EMAIL_RE, EMAIL_TOKEN)
    if ips:
        col = F.regexp_replace(col, IPV4_RE, IP_TOKEN)
    if phones:
        col = F.regexp_replace(col, PHONE_RE, PHONE_TOKEN)
    return col


def normalize_whitespace(col: Column) -> Column:
    """Collapse every whitespace run to one space and trim."""
    return F.trim(F.regexp_replace(col, "\\s+", " "))


CLEAN_STEPS = (
    "strip_html",
    "unescape_entities",
    "redact_emails",
    "redact_credit_cards",
    "redact_ssns",
    "redact_ips",
    "redact_phones",
    "normalize_whitespace",
    "lowercase",
)

# lowercase is opt-in; ssn/credit-card redaction is opt-in too (added
# after the clean_text oracle row was certified — the DEFAULT chain's
# output is pinned, new steps extend the menu without changing it)
DEFAULT_CLEAN_STEPS = (
    "strip_html",
    "unescape_entities",
    "redact_emails",
    "redact_ips",
    "redact_phones",
    "normalize_whitespace",
)


def clean_text(col: Column, steps: tuple[str, ...] = DEFAULT_CLEAN_STEPS) -> Column:
    """Composable cleaning chain; steps apply in the given order
    (the default order is the safe one — see step docstrings)."""
    fns = {
        "strip_html": strip_html,
        "unescape_entities": unescape_entities,
        "redact_emails": lambda c: redact_pii(c, ips=False, phones=False),
        "redact_credit_cards": lambda c: redact_all_pii(c, ("credit_card",)),
        "redact_ssns": lambda c: redact_all_pii(c, ("ssn",)),
        "redact_ips": lambda c: redact_pii(c, emails=False, phones=False),
        "redact_phones": lambda c: redact_pii(c, emails=False, ips=False),
        "normalize_whitespace": normalize_whitespace,
        "lowercase": F.lower,
    }
    for step in steps:
        if step not in fns:
            raise ValueError(f"unknown clean_text step {step!r}; have {CLEAN_STEPS}")
        col = fns[step](col)
    return col


# URL decomposition for crawl pipelines (per-domain caps, domain
# stats, URL-keyed dedup). Same Java-regex ∩ RE2 discipline as the
# PII patterns, so the DuckDB oracle extracts identical parts —
# deliberately NOT Spark's parse_url (its java.net.URI edge handling
# has no cross-engine mirror). No-match extracts are normalized to
# NULL (both engines return '' from regexp_extract; nullif keeps
# "absent" distinct from "empty path").

URL_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
URL_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
URL_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
URL_QUERY_RE = "\\?([^#]*)"
REGISTERED_DOMAIN_RE = "([^.]+\\.[^.]+)$"


def _extract_or_null(col: Column, pattern: str) -> Column:
    return F.nullif(F.regexp_extract(col, pattern, 1), F.lit(""))


def url_scheme(col: Column) -> Column:
    return _extract_or_null(col, URL_SCHEME_RE)


def url_host(col: Column) -> Column:
    """Hostname: authority minus userinfo and port."""
    return _extract_or_null(col, URL_HOST_RE)


def url_path(col: Column) -> Column:
    return _extract_or_null(col, URL_PATH_RE)


def url_query(col: Column) -> Column:
    return _extract_or_null(col, URL_QUERY_RE)


def url_domain(col: Column) -> Column:
    """Registered-domain APPROXIMATION: last two dot-labels of the
    host (example.com from www.example.com). Correct for generic
    TLDs; two-level public suffixes (co.uk) need a suffix list this
    engine deliberately does not vendor — per-domain grouping at
    crawl scale tolerates that coarseness."""
    return _extract_or_null(url_host(col), REGISTERED_DOMAIN_RE)


def shingles(col: Column, n: int = 3) -> Column:
    """Token n-gram shingles (space-joined); docs shorter than n
    tokens yield their whole token string as a single shingle.

    Formulated as ``arrays_zip`` of n shifted slices (zipped structs
    → ``concat_ws``), NOT as a transform over positions whose lambda
    slices ``toks``: Catalyst does no common-subexpression
    elimination INTO a higher-order function's lambda, so the
    position-lambda version re-tokenizes (regexp split + lower) once
    per shingle — O(len²) per document. Measured on sf0.1 documents:
    3.7 s → 0.77 s for the same 260k shingles, bit-identical output
    (order included). Every shingle consumer (minhash, winnow,
    decontaminate, jaccard, corpus_overlap) inherits the win.
    """
    toks = tokens(F.lower(col))
    k = F.size(toks)
    m = k - n + 1  # number of full-length shingles when k >= n
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(n)])
    ngrams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    return (
        F.when(k >= n, ngrams)
        .when(k > 0, F.array(F.array_join(toks, " ")))
        .otherwise(F.array().cast("array<string>"))
    )


def minhash_signature_from_shingles(sh: Column, num_hashes: int = 16) -> Column:
    """MinHash signature over a (possibly pre-materialized) shingle
    array: for seed j, min over shingles of md5(j || ':' || shingle)
    compared lexicographically. md5 hex ordering == 128-bit integer
    ordering, and DuckDB computes the identical strings, so
    signatures cross-check with the oracle. Duplicate shingles don't
    affect a min, so distinct vs raw shingle arrays are equivalent."""

    def min_hash(j: int) -> Column:
        # NB: the lambda must take exactly one arg — PySpark treats a
        # two-parameter lambda as (element, index)
        prefix = f"{j}:"
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(prefix), s)))
        )

    return F.array(*[min_hash(j) for j in range(num_hashes)])


def minhash_signature(col: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    return minhash_signature_from_shingles(shingles(col, shingle_n), num_hashes)


def simhash64(col: Column, shingle_n: int = 2, bits: int = 60) -> Column:
    """SimHash fingerprint as a bit-string (60 bits by default, kept
    under a signed long's 63 so the per-shingle hash is plain BIGINT
    arithmetic): per shingle take the top 15 hex chars of md5 as a
    60-bit integer; for each bit position sum +1/-1 by whether the
    bit is set; the sign vector, rendered '1'/'0', is the
    fingerprint. A bit-string groups/compares exactly like an integer
    fingerprint and sidesteps decimal-overflow in fold types."""
    sh = shingles(col, shingle_n)
    hashes = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )

    def bit_vector(h: Column) -> Column:
        # +1/-1 per bit, msb first; shift amounts are Python ints
        return F.array(
            *[
                F.when(F.shiftright(h, b) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
                for b in range(bits - 1, -1, -1)
            ]
        )

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bit_vector(h), lambda a, b: a + b),
    )
    signs = F.transform(counts, lambda c: F.when(c > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.array_join(signs, "")


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two string arrays (as sets)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def winnow_normalize(col: Column) -> Column:
    """Winnowing's text normalization (lower + trim + whitespace
    collapse), split out so callers can MATERIALIZE it before the
    per-gram stage (see ``winnow_gram_hashes``)."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def winnow_gram_hashes(col: Column, k: int = 8, normalized: bool = False) -> Column:
    """Stage 1 of winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS rolling-hash scheme): md5 of every character
    k-gram of the whitespace-normalized text. MATERIALIZE this in its
    own projection before calling ``winnow_select`` — the window
    stage references the hash array once per window, and an inlined
    transform would re-hash the document O(n·w) times.

    md5 hex strings compare lexicographically exactly like their
    128-bit values and DuckDB computes identical digests, so the
    selection cross-checks with the SQL oracle (same trick as the
    MinHash signatures above).

    Empty/null text yields an EMPTY hash array, not ``[md5("")]`` —
    otherwise every empty doc in a crawl corpus shares one
    fingerprint key and the near-dup equi-join goes quadratic in the
    empty-doc count (the same hot-key failure MinHash banding guards
    against; the doc-freq cap only contained it by coincidence).

    ``normalized=True`` skips whitespace normalization — pass it when
    ``col`` is a MATERIALIZED ``winnow_normalize`` column. Do that in
    any per-document caller: the per-gram lambda references the text
    once per character position, and Catalyst does not CSE outer
    expressions into higher-order-function lambdas, so an inline
    regexp normalization re-runs O(len) times per doc (the shingles()
    lesson; measured 2× on the winnow family)."""
    norm = col if normalized else winnow_normalize(col)
    n_grams = F.greatest(F.length(norm) - k + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: F.md5(norm.substr(i, F.lit(k)))
    )
    return F.when(F.length(norm) > 0, grams).otherwise(
        F.array().cast("array<string>")
    )


def winnow_select(hashes: Column, window: int = 4) -> Column:
    """Stage 2 of winnowing: slide a ``window`` of consecutive k-gram
    hashes, keep each window's minimum, return sorted distinct
    selections. Any shared substring of length ≥ k + window − 1
    contributes a shared fingerprint, so plagiarism/near-dup
    detection reduces to an equi-join on fingerprint. Pass a
    MATERIALIZED hash-array column (see ``winnow_gram_hashes``).
    An empty hash array (empty/null doc) selects nothing."""
    n_windows = F.greatest(F.size(hashes) - window + 1, F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.array_min(F.slice(hashes, j, window)),
    )
    return F.when(
        F.size(hashes) > 0, F.array_sort(F.array_distinct(mins))
    ).otherwise(F.array().cast("array<string>"))


def _nonempty_lines(col: Column) -> Column:
    return F.filter(
        F.split(F.coalesce(col, F.lit("")), "\n"),
        lambda x: F.length(F.trim(x)) > 0,
    )


def dup_line_frac(col: Column) -> Column:
    """Gopher-style repetition rule: fraction of (non-empty) LINES
    that are duplicates of another line in the same document.
    Pure per-row array expression — zero shuffle."""
    lines = _nonempty_lines(col)
    n = F.size(lines)
    return F.when(
        n > 0, 1.0 - F.size(F.array_distinct(lines)) / n.cast("double")
    ).otherwise(F.lit(0.0))


def dup_line_char_frac(col: Column) -> Column:
    """Fraction of line CHARACTERS living in duplicated lines (a doc
    where one short line repeats is less damaged than one where a long
    paragraph does — Gopher weights by mass). A line is duplicated iff
    it equals a neighbor in the SORTED line array, so the check is
    per-row sort + adjacency, no per-doc grouping."""
    lines = F.array_sort(_nonempty_lines(col))
    n = F.size(lines)

    def dup_len(x, i):
        # two-parameter HOF lambdas are (element, index); index 0-based,
        # element_at is 1-based
        prev_eq = (i > 0) & (x == F.element_at(lines, i))
        next_eq = (i < n - 1) & (x == F.element_at(lines, i + 2))
        return F.when(prev_eq | next_eq, F.length(x)).otherwise(F.lit(0))

    dup_chars = F.aggregate(
        F.transform(lines, dup_len), F.lit(0), lambda a, b: a + b
    )
    total = F.aggregate(
        F.transform(lines, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
    )
    return F.when(total > 0, dup_chars / total.cast("double")).otherwise(F.lit(0.0))


def top_bigram_char_frac(col: Column) -> Column:
    """Fraction of document characters covered by the most frequent
    word 2-gram (count x gram length / doc length) — the Gopher
    'top n-gram' repetition rule. Run-length over the SORTED 2-gram
    array via one fold (struct accumulator: previous gram, current
    run, best run, best gram); ties break to the lexicographically
    first gram (strict > keeps the earliest max in sorted order).
    Interpreted HOF, but per-row and shuffle-free — the right shape
    for a corpus-wide narrow map."""
    grams = F.array_sort(shingles(col, 2))
    n = F.size(grams)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("best"), F.lit("").alias("bestg"),
    )

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            g.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, g).otherwise(acc["bestg"]).alias("bestg"),
        )

    folded = F.aggregate(grams, init, step)
    return F.when(
        (n > 0) & (F.length(col) > 0),
        folded["best"] * F.length(folded["bestg"]) / F.length(col).cast("double"),
    ).otherwise(F.lit(0.0))
