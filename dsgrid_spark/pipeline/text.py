"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

All JVM-side column expressions (regexp/split/hash) — no Python UDFs in
the hot path, so every operator runs inside whole-stage codegen and
scales linearly with input splits.
"""

from __future__ import annotations

import os
import re
from functools import lru_cache

from pyspark.sql import Column, DataFrame, functions as F

from dsgrid_spark.session import one_slice_df

# small per-language stopword marker sets for the n-gram heuristic lang-id
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "se", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: count word pieces + digits + punct runs.

    A deterministic regex proxy for subword tokenizers (~chars/4 floor):
    splits words longer than 4 chars into ceil(len/4) pieces.
    """
    words = F.split(F.trim(text), r"\s+")
    per_word = F.transform(
        words, lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("int")
    )
    return F.coalesce(
        F.aggregate(per_word, F.lit(0), lambda acc, x: acc + x), F.lit(0)
    )


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] document quality from length/punct/stopword ratios.

    Components (equal thirds):
    - length score: min(1, n_chars/500)
    - alpha ratio: alphabetic chars / all chars
    - stopword hit: fraction of the 8 English markers present
    """
    n = F.length(text)
    length_score = F.least(F.lit(1.0), n / F.lit(500.0))
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    hits = _marker_hits(_distinct_words(text), "en")
    stop_score = hits / F.lit(float(len(_LANG_MARKERS["en"])))
    return (length_score + alpha_ratio + stop_score) / F.lit(3.0)


def _distinct_words(text: Column) -> Column:
    """Distinct lowercased \\w+ tokens — ONE pass over the text, shared
    by every marker-presence count below.

    Replaces per-marker ``rlike(r"\\b<w>\\b")`` scans: a marker matches
    \\b<w>\\b in the lowercased text iff <w> appears as a whole
    \\w-delimited token, which is exactly membership in this array
    (Java's \\b boundary is defined by the same ASCII \\w class the
    split pattern uses, so "the_x"/"the9" fail both). The sf100
    rehearsal measured the ladder at 32 full-text regex scans per doc
    per language_id call (~25x slower than one tokenize):
    q42 1234 s -> one split + 4 hashed array_intersects.
    """
    return F.array_distinct(
        F.filter(F.split(F.lower(text), r"[^\w]+"), lambda w: w != ""))


def _marker_hits(words: Column, lang: str) -> Column:
    """How many of a language's marker words appear in ``words``."""
    return F.size(F.array_intersect(
        words, F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])))


def language_id(text: Column) -> Column:
    """Marker-word-count heuristic over 4 languages; 'und' when no hits.

    One tokenize pass (see `_distinct_words`), then a single array
    argmax: the per-language marker counts land in ONE array and the
    winner is ``array_position(scores, array_max(scores))`` — each
    count evaluates once (the old greatest + when-ladder referenced
    every count twice, doubling the per-row intersect work; same
    earliest-language tie-break either way).
    """
    words = _distinct_words(text)
    langs = list(_LANG_MARKERS)
    scores = F.array(*[_marker_hits(words, lang) for lang in langs])
    best = F.array_max(scores)
    idx = F.array_position(scores, best).cast("int")
    names = F.array(*[F.lit(lang) for lang in langs])
    return F.when(best > 0, F.element_at(names, idx)).otherwise(F.lit("und"))


_URL_RE = r"https?://[^\s]+"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def clean_text(text: Column) -> Column:
    """Boilerplate scrub: strip URLs and email addresses, collapse
    whitespace. The regexes are deliberately RE2-compatible so an
    external engine can reproduce the cleaning for audit.
    """
    t = F.regexp_replace(text, _URL_RE, " ")
    t = F.regexp_replace(t, _EMAIL_RE, " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def count_pattern(text: Column, pattern: str) -> Column:
    """Occurrences of a regex in the text (JVM-side regexp_count)."""
    return F.regexp_count(text, F.lit(pattern))


def extract_urls(text: Column) -> Column:
    """All URLs in the text as an array (JVM-side regexp_extract_all)."""
    return F.regexp_extract_all(text, F.lit(f"({_URL_RE})"), 1)


_PSL_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "data", "public_suffixes.dat")


@lru_cache(maxsize=None)
def _psl_regexes(path: str = _PSL_PATH) -> tuple[str, str | None]:
    """Compile the bundled public-suffix snapshot into two anchored
    regexes: (multi-label suffix matcher, exception matcher | None).

    The file is standard publicsuffix.org format (comments ``//``,
    wildcards ``*.tld``, exceptions ``!host``); single-label suffixes are
    skipped because the default rule (last two labels) already handles
    them. Alternatives sort by label depth DESC so a deeper suffix
    (s3.amazonaws.com) beats its parent (amazonaws.com) — the PSL's
    longest-match rule. Group 1 of the multi regex captures
    ``<label>.<public suffix>`` — the registered domain."""
    suffixes: list[str] = []
    exceptions: list[str] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.split("//")[0].strip()
            if not line:
                continue
            if line.startswith("!"):
                exceptions.append(line[1:])
            elif "." in line or line.startswith("*"):
                suffixes.append(line)
    parts: list[tuple[int, str]] = []
    for s in suffixes:
        labels = s.split(".")
        if len(labels) < 2:
            continue
        pat = r"\.".join(r"[^.]+" if lb == "*" else re.escape(lb)
                         for lb in labels)
        parts.append((len(labels), pat))
    parts.sort(key=lambda t: (-t[0], t[1]))
    multi = r"([^.]+\.(?:" + "|".join(p for _, p in parts) + r"))$"
    exc = (r"(?:^|\.)(" + "|".join(re.escape(e) for e in exceptions) + r")$"
           if exceptions else None)
    return multi, exc


def _registered_domain(host: Column) -> Column:
    """PSL longest-match registered domain of one (lowercased) host:
    exception rules first, then multi-label public suffixes, then the
    default last-two-labels rule."""
    multi_re, exc_re = _psl_regexes()
    m = F.regexp_extract(host, multi_re, 1)
    out = F.when(m != "", m).otherwise(
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1))
    if exc_re is not None:
        e = F.regexp_extract(host, exc_re, 1)
        out = F.when(e != "", e).otherwise(out)
    return out


def registered_domains(text: Column) -> Column:
    """Distinct registered domains of every URL in the text, sorted.

    Registered domain = public suffix + one label, resolved against the
    bundled public-suffix snapshot (``dsgrid_spark/data/
    public_suffixes.dat``, standard publicsuffix.org format — drop in a
    full upstream snapshot to widen coverage): sub.site.example.com →
    example.com, news.bbc.co.uk → bbc.co.uk, user.github.io →
    user.github.io. This is the grouping key of web-pipeline domain
    filtering (blocklists, per-domain caps, domain mixing). The PSL
    compiles once (driver-side, lru_cached) into anchored regexes, so
    the per-row work stays pure column expressions — zero shuffle, no
    UDF, no join.
    """
    # DNS names are case-insensitive: fold host case so blocklists and
    # per-domain grouping treat Example.COM and example.com as one domain
    hosts = F.transform(
        extract_urls(text),
        lambda u: F.lower(F.regexp_extract(u, r"https?://([^/\s:]+)", 1)),
    )
    regs = F.transform(hosts, _registered_domain)
    return F.array_sort(F.array_distinct(
        F.filter(regs, lambda d: d != "")))


def flag_blocked_domains(df: DataFrame, blocklist: list[str],
                         text_column: str = "text",
                         flag_column: str = "blocked") -> DataFrame:
    """Add a 0/1 ``flag_column``: does ANY URL in the document resolve to
    a blocklisted registered domain? The pre-filter every web-corpus
    pipeline runs before content-level quality scoring.

    The blocklist folds into a literal array (constant-folded, checked
    per row with ``arrays_overlap`` — no join, no shuffle). For
    million-entry blocklists, explode ``registered_domains`` and semi-join
    a broadcast blocklist table instead; this helper is the common
    in-plan case.
    """
    bl = F.array(*[F.lit(d.lower()) for d in blocklist])
    return df.withColumn(
        flag_column,
        F.arrays_overlap(registered_domains(F.col(text_column)), bl)
        .cast("long"))


_IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PHONE_RE = r"\+\d{7,15}\b"
_LONG_NUM_RE = r"\b\d{13,19}\b"

# (category, pattern, replacement) — applied in order: emails before URLs
# before bare IPs/numbers so a sub-pattern never eats a larger match's text
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", _EMAIL_RE, "<EMAIL>"),
    ("url", _URL_RE, "<URL>"),
    ("ip", _IP_RE, "<IP>"),
    ("phone", _PHONE_RE, "<PHONE>"),
    ("long_number", _LONG_NUM_RE, "<NUM>"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails, URLs, IPv4s, +international phones, and 13-19
    digit runs (card/account-shaped) with typed tags — the standard PII
    scrub before training-data release. RE2-compatible patterns (no
    lookarounds/backrefs) so an external engine can reproduce the
    redaction byte-for-byte for audit. Pure codegen'd regexp_replace
    chain: zero shuffle, linear in text bytes.
    """
    out = text
    for _, pattern, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return out


def pii_counts(text: Column) -> Column:
    """Per-category PII hit counts as a struct column (fields =
    PII_PATTERNS categories). Counted on the raw text with the same
    ordering caveat as redact_pii: an email's digits are not also
    counted as a phone/number because each count uses the raw pattern
    independently — use redact order when exact disjoint counts matter.
    """
    return F.struct(*[
        F.regexp_count(text, F.lit(pattern)).alias(cat)
        for cat, pattern, _ in PII_PATTERNS
    ])


def dup_word_ppm(text: Column) -> Column:
    """Repeated-word fraction in parts-per-million (floor): how much of
    the document is re-occurrences of words already seen.

    Gopher-style repetition signal (duplicate-line fraction adapted to
    single-line corpora). Pure array expression — ``array_distinct`` on
    the per-row token array, no explode/shuffle — so it stays inside
    whole-stage codegen and scales linearly with rows.
    """
    words = F.split(F.trim(text), r"\s+")
    n = F.size(words)
    dup = n - F.size(F.array_distinct(words))
    return (
        F.when(n > 0, F.floor(dup.cast("long") * F.lit(1000000) / n))
        .otherwise(F.lit(0))
        .cast("long")
    )


def top_bigram_ppm(text: Column) -> Column:
    """Most-frequent word-bigram share in parts-per-million (floor).

    High values flag boilerplate/templated text (the Gopher
    top-2-gram-fraction filter). Bigrams come from zipping the token
    array with its own tail; the max multiplicity is the longest run of
    equal neighbors in the SORTED bigram array — O(n log n) per row,
    zero shuffle. (The previous per-distinct-bigram filter scan was
    O(distinct x n) ~ n^2: 61.6 s for 500k docs at the sf100 rehearsal
    vs 7.0 s for this formulation, identical values; sorting (a,b)
    structs instead of concatenated strings measured slower, 9.2 s.)
    """
    words = F.split(F.trim(text), r"\s+")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    zero = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))

    def step(acc, x):
        run = (F.when(x == acc["prev"], acc["run"] + 1)
               .otherwise(F.lit(1).cast("long")))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top = F.aggregate(F.array_sort(bigrams), zero, step,
                      lambda acc: acc["best"])
    return (
        F.when(n >= 2, F.floor(top.cast("long") * F.lit(1000000) / (n - 1)))
        .otherwise(F.lit(0))
        .cast("long")
    )


def _word_array(text: Column) -> Column:
    """Normalized token array shared by the LM-scoring operators:
    lowercase + trim + whitespace split (kept deliberately simple so an
    external SQL engine can reproduce the tokenization for audit)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


#: Python-side equivalent of :func:`_word_array`'s split — Java regex
#: ``\s`` is ASCII-only, so the pandas-UDF consumers (bpe_segment) must
#: split with ``re.ASCII`` too: a bare ``str.split()`` also breaks on
#: Unicode whitespace (U+00A0, U+2009, ...), and a corpus word
#: containing a non-breaking space would then train as ONE vocab entry
#: but segment as TWO words. Empty tokens (from edge whitespace) are
#: filtered on both sides.
PY_WS_RE = re.compile(r"\s+", re.ASCII)


def py_words(text: str) -> list[str]:
    """Tokenize one string exactly as :func:`_word_array` does
    (lowercase, ASCII-whitespace split, empty tokens dropped)."""
    return [w for w in PY_WS_RE.split(text.lower()) if w]


# standard Lucene/Snowball English stopword list (public domain)
_EN_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)


def _s_stem(w: Column) -> Column:
    """Harman S-stemmer (Harman 1991, "How effective is suffixing?"):
    three plural-folding rules, deterministic and engine-reproducible —
    chosen over full Porter because the point of the second analyzer is
    the pluggable swap, and three `when` branches keep the whole stem a
    codegen'd column expression.

      ies -> y  unless the word ends aies/eies   (ponies -> pony)
      es  -> e  unless the word ends aes/ees/oes (classes -> classe)
      s dropped unless the word ends us/ss       (models -> model)

    Words of <= 3 chars pass through (keeps "is"/"as"/"gas" stable even
    outside the stopword list)."""
    cut1 = w.substr(F.lit(1), F.length(w) - F.lit(1))
    # dispatch on the ENDING first: a word ending "ies"/"es" that hits
    # its rule's exception passes through — it must not fall into a
    # later rule ("trees" stays "trees", it does not lose the bare s)
    return (
        F.when(F.length(w) <= 3, w)
        .when(w.rlike("ies$"),
              F.when(w.rlike("[ae]ies$"), w)
               .otherwise(F.concat(
                   w.substr(F.lit(1), F.length(w) - F.lit(3)),
                   F.lit("y"))))
        .when(w.rlike("es$"),
              F.when(w.rlike("[aeo]es$"), w).otherwise(cut1))
        .when(w.rlike("s$"),
              F.when(w.rlike("[us]s$"), w).otherwise(cut1))
        .otherwise(w)
    )


def _build_fold_table() -> tuple[str, str, dict[str, str]]:
    """Accent-fold table derived from NFKD at import time (driver-side,
    once): every codepoint in the Latin supplement/extended ranges whose
    compatibility decomposition is one ASCII letter plus combining marks
    maps to that letter (for ``F.translate``, strictly 1:1); the few
    multi-letter foldings (ae/oe/ss/ij ligatures) go through literal
    ``regexp_replace`` chains. This is the Lucene ASCIIFoldingFilter
    approach re-expressed as data for Spark's codegen'd translate —
    no per-row Python, no UDF."""
    import unicodedata

    # letters with NO compatibility decomposition (stroked/crossed
    # forms) need explicit entries — the Lucene table has the same
    import itertools

    src = list("øłđðħŧıŋ")
    dst = list("oldd htin".replace(" ", ""))
    multi = {"ß": "ss", "æ": "ae", "œ": "oe", "ĳ": "ij", "þ": "th"}
    # Latin-1 supplement + Extended-A/B (0xA0-0x24F) AND Latin Extended
    # Additional (0x1E00-0x1EFF — Vietnamese precomposed vowels like ệ,
    # dotted/ringed consonants): without the second range a precomposed
    # NFC source word folds differently from its NFD form (the \p{Mn}
    # strip catches decomposed input), so the same word would index as
    # two different terms depending on the source's normalization form.
    for cp in itertools.chain(range(0xA0, 0x250), range(0x1E00, 0x1F00)):
        ch = chr(cp)
        if ch in multi:
            continue
        base = "".join(c for c in unicodedata.normalize("NFKD", ch)
                       if not unicodedata.combining(c))
        if base == ch or not base or not base.isascii():
            continue
        if len(base) == 1 and base.isalpha():
            src.append(ch)
            dst.append(base)
        elif base.isalpha():
            multi[ch] = base
    return "".join(src), "".join(dst), multi


_FOLD_SRC, _FOLD_DST, _FOLD_MULTI = _build_fold_table()


def _fold_unicode(text: Column) -> Column:
    """Lowercase + accent-fold: strip combining marks (handles NFD
    'e' + U+0301 input), translate precomposed accented letters to
    their ASCII base, expand the ligature/sharp-s multi-letter cases.
    ``é``/``e`` now index as the same term whichever form the source
    document used. English-analyzer only BY DESIGN: the CJK analyzer
    must NOT strip combining marks — Japanese dakuten decompose to
    base + U+3099 under NFD, and folding would conflate が/か (distinct
    syllables), so _cjk_tokens keeps codepoints verbatim."""
    folded = F.regexp_replace(F.lower(text), r"\p{Mn}+", "")
    folded = F.translate(folded, _FOLD_SRC, _FOLD_DST)
    for ch, rep in sorted(_FOLD_MULTI.items()):
        folded = F.regexp_replace(folded, ch, rep)
    return folded


def _english_tokens(text: Column) -> Column:
    """English retrieval analyzer: unicode folding (lowercase, accent
    fold — see :func:`_fold_unicode`), letters/digits-only splitting
    (every other codepoint becomes a boundary), stopword removal,
    Harman S-stem. Entirely built-in column expressions — the analyzer
    runs inside whole-stage codegen like the simple one, and downstream
    consumers (postings build, direct BM25 scan, query analysis) are
    analyzer-agnostic: they see a token array either way."""
    cleaned = F.regexp_replace(_fold_unicode(text),
                               r"[^\p{L}\p{Nd}]+", " ")
    words = F.split(F.trim(cleaned), r"\s+")
    stop = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    kept = F.filter(words, lambda w: (w != "") & ~F.array_contains(stop, w))
    return F.transform(kept, _s_stem)


# Pluggable analyzer registry (ROADMAP 9): an analyzer is a named pure
# column transform text -> array<string>. The NAME is persisted in a
# term index's stats row and every reader analyzes queries with the
# index's own analyzer — probing with a different one than the writer
# used would silently miss postings (same failure class as a wrong
# bucket count).
# Java regex script classes for the CJK unified range the bigram
# analyzer treats as one segmentation domain (Lucene CJKAnalyzer's
# default CJKBigramFilter flags: HAN | HIRAGANA | KATAKANA | HANGUL).
_CJK = r"\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}"


def _cjk_tokens(text: Column) -> Column:
    """CJK bigram analyzer (the Lucene CJKAnalyzer geometry): CJK runs
    tokenize as overlapping character bigrams — the standard
    dictionary-free segmentation for Chinese/Japanese/Korean retrieval
    (a query phrase matches iff its bigrams appear consecutively, which
    positional phrase search already checks) — while non-CJK runs
    tokenize as lowercased whole words, so mixed Latin/CJK text gets
    both behaviors in one pass.

    Entirely built-in column expressions: fold -> script-boundary split
    -> per-word HOF expansion (``transform`` + ``substr``), all inside
    whole-stage codegen like the other analyzers. Single CJK characters
    standing alone become unigrams (a 1-char run has no bigram).
    Supplementary-plane Han (surrogate pairs) segments at UTF-16 units,
    the same trade Lucene's bigram filter makes.
    """
    cleaned = F.regexp_replace(F.lower(text), r"[^\p{L}\p{Nd}]+", " ")
    # boundaries between CJK and non-CJK scripts, both directions
    split_mixed = F.regexp_replace(
        cleaned, f"([{_CJK}])([^{_CJK} ])", "$1 $2")
    split_mixed = F.regexp_replace(
        split_mixed, f"([^{_CJK} ])([{_CJK}])", "$1 $2")
    words = F.filter(F.split(F.trim(split_mixed), r"\s+"),
                     lambda w: w != "")

    def expand(w):
        n = F.length(w)
        bigrams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: w.substr(i, F.lit(2)))
        return F.when(w.rlike(f"^[{_CJK}]+$") & (n > 1),
                      bigrams).otherwise(F.array(w))

    return F.flatten(F.transform(words, expand))


ANALYZERS = {
    "simple": _word_array,
    "english": _english_tokens,
    "cjk": _cjk_tokens,
}


def _bigram_array(text: Column) -> Column:
    words = _word_array(text)
    n = F.size(words)
    return F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def train_bigram_counts(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Corpus-level bigram frequency model: one row per distinct bigram
    with its occurrence count.

    The training pass is explode -> groupBy(bigram): Spark computes
    map-side partial counts per input split, so the single shuffle
    carries only (distinct-bigram, partial-count) pairs — at 100 TB the
    shuffle volume is bounded by the vocabulary cross-product actually
    observed, not the corpus size.
    """
    return (
        df.select(F.explode(_bigram_array(F.col(text_column))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
    )


def bigram_familiarity(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    counts: DataFrame | None = None,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document n-gram LM familiarity: mean corpus frequency of the
    document's bigrams, as an integer fixed-point score (x 1e6, floor).

    The standard training-data quality signal 'does this document look
    like the rest of the corpus' (CCNet/Gopher-style LM filtering) with
    the count-space score kept integer-exact so two engines agree
    bit-for-bit; :func:`bigram_logprob` is the float log-space variant.
    Documents with fewer than two tokens score 0.

    Scale path: the model is broadcast when small (``broadcast_model``);
    otherwise the join is a sort-merge on the bigram key. The per-doc
    aggregation is a plain integer-sum groupBy (map-side partials).
    """
    if counts is None:
        counts = train_bigram_counts(df, text_column)
    model = F.broadcast(counts) if broadcast_model else counts
    doc_bigrams = df.select(
        F.col(id_column),
        F.explode(_bigram_array(F.col(text_column))).alias("bigram"),
    )
    per_doc = (
        doc_bigrams.join(model, "bigram", "left")
        .groupBy(id_column)
        .agg(
            F.sum(F.coalesce("bigram_count", F.lit(0))).alias("_s"),
            F.count(F.lit(1)).alias("_nb"),
        )
        .select(
            id_column,
            F.floor(F.col("_s") * F.lit(1000000.0) / F.col("_nb"))
            .cast("long")
            .alias("lm_familiarity_micro"),
        )
    )
    return (
        df.select(id_column)
        .join(per_doc, id_column, "left")
        .na.fill({"lm_familiarity_micro": 0})
    )


def bigram_logprob(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    counts: DataFrame | None = None,
    broadcast_model: bool = True,
) -> DataFrame:
    """Average add-one-smoothed log2 P(w | prev) per document — the
    log-space LM score (higher = more corpus-typical; exp2(-score) is
    per-token perplexity). Float-valued, so verified in tests with
    tolerance rather than by the cross-engine hash oracle.

    P(w | prev) = (c(prev w) + 1) / (c(prev *) + V), with V = the
    smoothing vocabulary (distinct words appearing in any model bigram).
    Same join/aggregate shape as :func:`bigram_familiarity`; the
    prefix-count model and V both derive from the bigram model without a
    second corpus pass.
    """
    if counts is None:
        counts = train_bigram_counts(df, text_column)
    prefix = (
        counts.withColumn("prev", F.split("bigram", " ").getItem(0))
        .groupBy("prev")
        .agg(F.sum("bigram_count").alias("prefix_count"))
    )
    vocab_size = (
        counts.select(F.explode(F.split("bigram", " ")).alias("w"))
        .distinct()
        .count()
    )
    model = (
        counts.withColumn("prev", F.split("bigram", " ").getItem(0))
        .join(prefix, "prev")
        .select("bigram", "bigram_count", "prefix_count")
    )
    model = F.broadcast(model) if broadcast_model else model
    doc_bigrams = df.select(
        F.col(id_column),
        F.explode(_bigram_array(F.col(text_column))).alias("bigram"),
    )
    logp = F.log2(
        (F.coalesce("bigram_count", F.lit(0)) + F.lit(1.0))
        / (F.coalesce("prefix_count", F.lit(0)) + F.lit(float(vocab_size)))
    )
    per_doc = (
        doc_bigrams.join(model, "bigram", "left")
        .groupBy(id_column)
        .agg(F.avg(logp).alias("avg_log2_prob"))
    )
    return df.select(id_column).join(per_doc, id_column, "left")


def top_terms(df: DataFrame, id_column: str = "doc_id",
              text_column: str = "text", k: int = 5,
              order: str = "tfidf") -> DataFrame:
    """Top-k characteristic terms per document (TF-IDF keyword
    extraction): term frequency per doc x corpus-level inverse document
    frequency.

    Returns (id, term, tf, doc_freq, tfidf) for the k best terms per
    document. ``order='tfidf'`` ranks by tf*ln((N+1)/(df+1)) — the
    standard float score; ``order='tf_rarity'`` ranks by (tf desc,
    doc_freq asc, term asc) — an integer-exact ordering any engine
    reproduces bit-for-bit, used by the cross-engine oracle.

    Scale: two shuffles — (doc, term) for tf, (term) for doc freq —
    both with map-side partial aggregation; the doc-freq table joins
    back broadcast when the vocabulary is small, sort-merge on the term
    key otherwise. The final per-doc top-k is a row_number window that
    Spark rewrites to WindowGroupLimit (per-partition pruning before
    the shuffle). The corpus size N is one count() action.
    """
    from pyspark.sql import Window

    terms = (
        df.select(F.col(id_column),
                  F.explode(_word_array(F.col(text_column))).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy(id_column, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.count()
    scored = tf.join(doc_freq, "term").withColumn(
        "tfidf",
        F.col("tf") * F.log((F.lit(float(n_docs + 1))) / (F.col("doc_freq") + 1)),
    )
    if order == "tfidf":
        ordering = [F.desc("tfidf"), F.asc("term")]
    elif order == "tf_rarity":
        ordering = [F.desc("tf"), F.asc("doc_freq"), F.asc("term")]
    else:
        raise ValueError(f"unknown order {order!r}")
    w = Window.partitionBy(id_column).orderBy(*ordering)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .select(id_column, "term", "tf", "doc_freq", "tfidf")
    )


def bm25_scores(df: DataFrame, query_terms: list[str],
                id_column: str = "doc_id", text_column: str = "text",
                k1: float = 1.2, b: float = 0.75,
                micro: bool = False, analyzer: str = "simple") -> DataFrame:
    """BM25 relevance of every matching document against a bag-of-terms
    query (full-text retrieval over the corpus, reference: Robertson &
    Zaragoza 2009 / the Lucene practical variant).

    Default output is ``(id, bm25)`` with the standard
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf. ``micro=True`` swaps the
    log idf for its rational core ``(2N - 2df + 1)/(2df + 1)`` and emits
    integer micro-scores from a FIXED IEEE-double op sequence — the
    ranking-equivalent form an external SQL engine reproduces bit-exactly
    (ln differs in the last ulp across libm implementations; products,
    sums and one floor(×1e6) division do not). Only k1=1.2, b=0.75 are
    supported in micro mode: the constants 2.2 = k1+1, 0.3 = k1(1-b) and
    0.9 = k1·b appear literally so both engines parse identical doubles.

    Scale: the term filter sits UNDER the (doc, term) shuffle, so only
    query-term hits leave the scan; doc lengths ride the same row; the
    per-term doc-freq table is a handful of rows crossed back broadcast,
    and corpus totals (N, total tokens) are one broadcast single-row agg
    — no collect, the whole score is one lazy plan. Docs with no query
    term are absent (callers left-join + coalesce(0) if they need the
    full corpus).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if micro and (k1, b) != (1.2, 0.75):
        raise ValueError("micro mode fixes k1=1.2, b=0.75")
    tokenize = ANALYZERS[analyzer]
    # the query goes through the SAME analyzer as the corpus, as a lazy
    # column expression (no collect — the whole score stays one plan);
    # under "simple" this reduces to the old per-term lowercase
    qarr = tokenize(F.lit(" ".join(query_terms)))
    arr = tokenize(F.col(text_column))
    base = df.select(
        F.col(id_column),
        F.size(F.filter(arr, lambda x: x != "")).cast("long").alias("__dl"),
        F.array_intersect(arr, qarr).alias("__hit_terms"),
        arr.alias("__words"),
    )
    # only rows containing >= 1 query term ever explode or shuffle
    hits = (
        base.filter(F.size("__hit_terms") > 0)
        .select(
            id_column, "__dl",
            F.explode("__hit_terms").alias("term"),
            F.col("__words"),
        )
        .withColumn(
            "tf",
            F.size(F.filter(F.col("__words"), lambda x: x == F.col("term")))
            .cast("long"),
        )
        .drop("__words")
    )
    doc_freq = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__dl").cast("long").alias("total_tokens"),
    )
    from pyspark.sql.functions import broadcast

    scored = (
        hits.join(broadcast(doc_freq), "term")
        .crossJoin(broadcast(stats))
    )
    n, dfreq = F.col("n_docs").cast("double"), F.col("df").cast("double")
    tf, dl = F.col("tf").cast("double"), F.col("__dl").cast("double")
    t_tot = F.col("total_tokens").cast("double")
    if micro:
        # literal-for-literal the same expression the SQL oracle runs:
        # num = ((2N - 2df) + 1) * tf * 2.2
        # den = (2df + 1) * ((tf + 0.3) + (0.9 * N / T) * dl)
        num = (F.lit(2.0) * n - F.lit(2.0) * dfreq + F.lit(1.0)) * tf \
            * F.lit(2.2)
        den = (F.lit(2.0) * dfreq + F.lit(1.0)) * (
            (tf + F.lit(0.3)) + (F.lit(0.9) * n / t_tot) * dl)
        per_term = F.floor(F.lit(1000000.0) * num / den).cast("long")
        out = F.sum(per_term).alias("bm25_micro")
    else:
        idf = F.log(
            F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5)))
        avgdl = t_tot / n
        per_term = idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
        out = F.sum(per_term).alias("bm25")
    return scored.groupBy(id_column).agg(out)


def bm25_topk(df: DataFrame, query_terms: list[str], k: int,
              id_column: str = "doc_id", text_column: str = "text",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents for a bag-of-terms query by BM25 (ties broken by
    id). A global sort+limit that Spark executes as TakeOrderedAndProject
    — per-partition top-k then a k-row driver merge, never a full sort."""
    scores = bm25_scores(df, query_terms, id_column, text_column, k1, b)
    return scores.orderBy(F.desc("bm25"), F.asc(id_column)).limit(k)


def chunk_documents(df: DataFrame, id_column: str = "doc_id",
                    text_column: str = "text", chunk_chars: int = 1000,
                    overlap: int = 100) -> DataFrame:
    """Split long documents into fixed-size overlapping chunks (the
    context-window splitting step before tokenization: stride =
    chunk_chars - overlap, last chunk may be short, every document
    yields at least one chunk).

    Pure sequence+explode+substr column expressions — the fan-out happens
    inside whole-stage codegen on each input split with no shuffle, so
    at 100 TB the cost is exactly one pass over the text bytes and the
    output partitioning inherits the input's (chunk rows of a document
    stay in its partition).

    Returns the input row (minus text) + (chunk_index, n_chunks,
    chunk_text).
    """
    if overlap >= chunk_chars:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_chars ({chunk_chars})")
    stride = chunk_chars - overlap
    n = F.length(F.col(text_column))
    n_chunks = (
        F.lit(1)
        + F.greatest(
            F.lit(0),
            F.floor((n - chunk_chars + stride - 1) / F.lit(float(stride))),
        )
    ).cast("int")
    other = [c for c in df.columns if c != text_column]
    out = (
        df.withColumn("n_chunks", n_chunks)
        .select(
            *other, "n_chunks", F.col(text_column),
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1))
            .alias("chunk_index"),
        )
        .withColumn(
            "chunk_text",
            F.col(text_column).substr(
                F.col("chunk_index") * stride + 1, F.lit(chunk_chars)),
        )
        .drop(text_column)
    )
    return out


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """64-bit rolling-hash document fingerprint (xxhash64 of normalized text).

    Normalization: lowercase, collapse whitespace, strip punctuation —
    so trivially-different copies collide (the point of fingerprinting).
    """
    t = text
    if normalize:
        t = F.lower(t)
        t = F.regexp_replace(t, r"[^\w\s]", "")
        t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return F.xxhash64(t)


def analyze_documents(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Attach all text-analysis columns in one pass."""
    t = F.col(text_column)
    return (
        df.withColumn("n_tokens", token_count(t))
        .withColumn("n_tokens_bpe", bpe_ish_token_count(t))
        .withColumn("quality", quality_score(t))
        .withColumn("lang_pred", language_id(t))
        .withColumn("fingerprint", fingerprint(t))
    )


def alpha_ratio_ppm(text: Column) -> Column:
    """Integer ppm of alphabetic characters (floor — bit-identical across
    engines, the q29 convention)."""
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n = F.length(text)
    return F.floor(
        F.when(n > 0, alpha * F.lit(1000000.0) / n).otherwise(F.lit(0.0))
    ).cast("long")


def filter_funnel(df: DataFrame,
                  rules: list[tuple[str, Column]]) -> tuple[DataFrame, DataFrame]:
    """C4/Gopher-style quality-filter funnel with per-rule attribution:
    each document is charged to the FIRST rule whose keep-condition it
    fails (the standard 'how much did each filter cost me' report run
    before training).

    ``rules`` is an ordered list of ``(name, keep_condition)``. Returns
    ``(survivors, stats)``: survivors pass every rule; stats has one row
    per rule name plus ``'kept'`` with the document count. Attribution is
    ONE when-ladder column + a groupBy over rule-name cardinality — a
    single scan and a shuffle of len(rules)+1 rows, regardless of corpus
    size (running each filter separately would scan the corpus
    len(rules) times and lose the first-failure attribution).
    """
    if not rules:
        raise ValueError("filter_funnel needs at least one rule")
    ladder = None
    for name, keep in rules:
        # NULL keep-conditions count as failures (SQL filter() would drop
        # them, so the attribution must charge them to the rule too)
        fail = ~F.coalesce(keep, F.lit(False))
        ladder = (F.when(fail, F.lit(name)) if ladder is None
                  else ladder.when(fail, F.lit(name)))
    ladder = ladder.otherwise(F.lit("kept"))
    stats = (
        df.withColumn("__rule", ladder)
        .groupBy("__rule").agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumnRenamed("__rule", "rule")
    )
    survivors = df
    for _, keep in rules:
        survivors = survivors.filter(keep)
    return survivors, stats


def logistic_regression(df: DataFrame, feature_columns: list[str],
                        label_column: str, iterations: int = 50,
                        lr: float = 0.5, l2: float = 0.0) -> list[float]:
    """Train a logistic-regression quality classifier with plain
    DataFrame aggregations (no MLlib, matching ``kmeans_centroids``):
    full-batch gradient descent, one aggregate job per iteration.

    Returns ``[bias, w1, ..., wd]``. Labels are 0/1. Features should be
    pre-scaled to comparable ranges (the text metrics here are ppm/count
    columns — divide by their scale first).

    Scale: each iteration shuffles d+1 partial sums per partition
    (map-side combined), never rows; the driver holds only the weight
    vector. The FineWeb-style use: hand-label a few thousand documents,
    train on their metric columns, score the full corpus with
    ``predict_proba`` (a pure column expression — zero Python at
    inference).
    """
    if iterations <= 0:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if not feature_columns:
        raise ValueError("feature_columns must be non-empty")
    n = df.count()
    if n == 0:
        raise ValueError("training frame is empty")
    y = F.col(label_column).cast("double")
    feats = [F.col(c).cast("double") for c in feature_columns]
    w = [0.0] * (len(feature_columns) + 1)
    for _ in range(iterations):
        z = F.lit(w[0])
        for wi, x in zip(w[1:], feats):
            z = z + F.lit(wi) * x
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - y
        grads = df.agg(
            F.sum(err).alias("g0"),
            *[F.sum(err * x).alias(f"g{i + 1}")
              for i, x in enumerate(feats)],
        ).collect()[0]
        w[0] -= lr * (grads["g0"] / n)
        for i in range(1, len(w)):
            w[i] -= lr * (grads[f"g{i}"] / n + l2 * w[i])
    return w


def predict_proba(weights: list[float],
                  feature_columns: list[str]) -> Column:
    """P(label=1) under a trained ``logistic_regression`` model, as a
    single codegen'd column expression (the zero-UDF inference path)."""
    if len(weights) != len(feature_columns) + 1:
        raise ValueError(
            f"expected {len(feature_columns) + 1} weights (bias first), "
            f"got {len(weights)}")
    z = F.lit(weights[0])
    for wi, c in zip(weights[1:], feature_columns):
        z = z + F.lit(wi) * F.col(c).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def hashed_ngram_features(df: DataFrame, id_column: str = "doc_id",
                          text_column: str = "text",
                          n_buckets: int = 1 << 18, max_n: int = 2,
                          salt: str = "ft",
                          feature_column: str = "features",
                          keep_columns: tuple[str, ...] = ()) -> DataFrame:
    """fastText-style feature extraction: every word 1..max_n-gram of
    the document, hashed into ``n_buckets`` via
    ``pmod(xxhash64(salt, gram), n_buckets)`` — the hashing trick
    (Weinberger ICML'09; Joulin 2017 uses the same trick for fastText
    n-gram buckets). Output is (id, features array<int>), a BAG: a gram
    occurring twice contributes its bucket twice, matching the linear
    model's term-frequency semantics.

    Pure column expressions (tokenize -> ngram arrays -> hash
    transform), zero shuffle; the feature space is fixed at n_buckets
    regardless of vocabulary, which is what makes the downstream
    classifier's state driver-boundable at 100 TB.
    """
    if n_buckets <= 0 or max_n < 1:
        raise ValueError(f"n_buckets and max_n must be positive, got "
                         f"{n_buckets}, {max_n}")
    # NULL text coalesces to '' (empty feature bag) so every downstream
    # consumer sees the row: without this, concat/transform propagate
    # null and the arrow GD kernel crashes on np.asarray(None) while the
    # hof fold silently drops the row — the two methods would diverge
    txt = F.coalesce(F.col(text_column), F.lit(""))
    grams = F.concat(*[ngram_array(txt, n)
                       for n in range(1, max_n + 1)])
    idx = F.transform(
        grams,
        lambda g: F.pmod(F.xxhash64(F.lit(salt), g),
                         F.lit(n_buckets)).cast("int"))
    return df.select(F.col(id_column), idx.alias(feature_column),
                     *[F.col(c) for c in keep_columns])


def _sparse_z(bias: float, feature_column: str,
              weight_column: str = "__w") -> Column:
    """z = bias + Σ w[idx] over the feature bag — m array lookups into
    the broadcast weight row, zero Python."""
    return F.lit(float(bias)) + F.aggregate(
        F.transform(F.col(feature_column),
                    lambda i: F.get(F.col(weight_column), i)),
        F.lit(0.0), lambda acc, x: acc + x)


def sparse_logistic_regression(df: DataFrame, label_column: str = "label",
                               feature_column: str = "features",
                               n_buckets: int = 1 << 18,
                               iterations: int = 30, lr: float = 0.5,
                               l2: float = 0.0,
                               method: str = "arrow") -> tuple[float, list[float]]:
    """Train a hashed-n-gram linear classifier (the fastText-without-
    embeddings model) with distributed full-batch gradient descent.

    Input rows are (features array<int>, 0/1 label) from
    :func:`hashed_ngram_features`. Per iteration, ONE job:

    - per-row error ``σ(bias + Σ w[idx]) − y``, computed by the
      ``arrow`` numpy kernel by default (``np.take`` +
      ``np.add.reduceat`` over the batch's concatenated indices — the
      same ascending per-row summation order as the JVM fold, so the
      two methods agree to within last-ULP rounding — the summation
      order matches but numpy's exp and JVM Math.exp are not
      guaranteed ULP-identical, so no oracled path may rely on
      exactness; the sf10 rehearsal measured the
      interpreted-HOF lookup loop at ~0.2 ms/doc, ~90 s per
      full-corpus pass, which the kernel removes — ROADMAP 14). The
      ``hof`` method keeps the pure-JVM broadcast-weight-row path as
      the tested-equal fallback.
    - the gradient is ``explode(features) -> groupBy(idx) ->
      sum(err)`` — map-side combined, so the shuffle and the driver
      collect are bounded by n_buckets, NEVER by corpus size or
      vocabulary (the entire point of the hashing trick at scale). A
      sentinel bucket −1 prepended to every row's features folds the
      bias gradient into the SAME pass: Σ err lands in bucket −1, so
      one job per iteration carries everything.

    The driver holds only (bias, weights). Returns them; score with
    :func:`sparse_predict_proba`. Training input is localCheckpointed
    once — each iteration rereads materialized (features, label) rows,
    not the text-processing lineage.
    """
    if iterations <= 0:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if method not in ("arrow", "hof"):
        raise ValueError(f"method must be arrow|hof, got {method!r}")
    spark = df.sparkSession
    data = df.select(F.col(feature_column).alias("__f"),
                     F.col(label_column).cast("double").alias("__y")) \
        .localCheckpoint()
    n = data.count()
    if n == 0:
        raise ValueError("training frame is empty")
    bias = 0.0
    w = [0.0] * n_buckets
    for _ in range(iterations):
        if method == "arrow":
            scored = _sparse_err_arrow(data, bias, w)
        else:
            w_row = F.broadcast(one_slice_df(
                spark, [(w,)], "__w: array<double>"))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_sparse_z(bias, "__f")))
            # __e must be a RESOLVED column BELOW the explode: selecting
            # the raw expression next to explode() would place its
            # Project above Generate, recomputing the whole z-aggregate
            # once per exploded feature — O(tokens²) per document
            # (caught by the sf10 rehearsal)
            scored = (data.crossJoin(w_row)
                      .withColumn("__e", p - F.col("__y"))
                      .select("__e", "__f"))
        grads = (scored.select(
            "__e",
            F.explode(F.concat(F.array(F.lit(-1)), "__f")).alias("__i"))
            .groupBy("__i").agg(F.sum("__e").alias("g"))
            .collect())
        if l2:
            w = [wi - lr * l2 * wi for wi in w]
        for r in grads:
            if r["__i"] == -1:
                bias -= lr * (r["g"] / n)
            else:
                w[r["__i"]] -= lr * (r["g"] / n)
    return bias, w


def _sparse_err_arrow(data: DataFrame, bias: float,
                      w: list[float]) -> DataFrame:
    """One Arrow pass computing (``__e`` = σ(z) − y, ``__f``) for the
    sparse GD iteration: z for the whole batch is ``np.take`` of the
    weight vector at the concatenated feature indices, summed per row
    with ``np.add.reduceat`` (sequential ascending within each row —
    the same order as the JVM fold, keeping the two methods equal to
    within last-ULP rounding of σ). The weight vector ships per task
    via closure (2 MB at 2^18 buckets)."""
    import numpy as np
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)

    wv = np.asarray(w, dtype=np.float64)
    b = float(bias)
    out_schema = StructType([
        StructField("__e", DoubleType()),
        StructField("__f", ArrayType(IntegerType())),
    ])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(__e=[]).drop(columns="__y")[
                    ["__e", "__f"]]
                continue
            feats = [np.asarray(r, dtype=np.int64) for r in pdf["__f"]]
            lens = np.fromiter((len(f) for f in feats), dtype=np.int64,
                               count=len(feats))
            flat = (np.concatenate(feats) if lens.sum()
                    else np.empty(0, dtype=np.int64))
            starts = np.zeros(len(feats), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            looked = np.take(wv, flat)
            z = np.zeros(len(feats), dtype=np.float64)
            # reduceat over the nonzero rows' starts only: an empty
            # row's start would alias its neighbor's and reduceat
            # returns a[i] (not 0.0) for empty slices
            nz = lens > 0
            if flat.size:
                z[nz] = np.add.reduceat(looked, starts[nz])
            z += b
            e = 1.0 / (1.0 + np.exp(-z)) - pdf["__y"].to_numpy()
            yield pdf.assign(__e=e)[["__e", "__f"]]

    return data.mapInPandas(score, out_schema)


def sparse_predict_proba(df: DataFrame, bias: float, weights: list[float],
                         feature_column: str = "features",
                         output_column: str = "proba") -> DataFrame:
    """P(label=1) for each row under a ``sparse_logistic_regression``
    model: weights broadcast as one data row, score = m lookups — the
    zero-Python inference path over any corpus size."""
    w_row = F.broadcast(one_slice_df(
        df.sparkSession, [([float(x) for x in weights],)],
        "__w: array<double>"))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_sparse_z(bias, feature_column)))
    return (df.crossJoin(w_row)
            .withColumn(output_column, p)
            .drop("__w"))


def ngram_array(text: Column, n: int) -> Column:
    """Word n-gram array (space-joined) from the library tokenizer,
    empty tokens dropped; documents shorter than ``n`` tokens yield an
    empty array. Pure array expressions (sequence + slice inside a
    transform) — per-row, zero shuffle, SQL-reproducible."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = F.filter(_word_array(text), lambda x: x != "")
    size = F.size(words)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_ngrams(df: DataFrame, text_column: str = "text",
               n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-wide heavy hitters: the k most frequent word n-grams,
    with a deterministic total order (count desc, then n-gram asc).

    The boilerplate/contamination audit primitive: the most frequent
    trigrams of a web corpus ARE its templated junk (cookie banners,
    nav bars), and the list seeds removal rules. Shape at scale: the
    exploded (ngram) stream gets map-side partial aggregation, so the
    shuffle carries one row per distinct n-gram per task — corpus size
    drops out; the global top-k is a TakeOrdered over aggregated
    counts, never a full sort. Returns (rank, ngram, count), rank
    1-based.
    """
    counts = (
        df.select(F.explode(ngram_array(F.col(text_column), n))
                  .alias("ngram"))
        .groupBy("ngram").agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
    from pyspark.sql import Window

    top = counts.orderBy(F.desc("count"), F.asc("ngram")).limit(k)
    # rank is assigned AFTER the limit, so the single-partition window
    # only ever sees k rows
    w = Window.orderBy(F.desc("count"), F.asc("ngram"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "ngram", "count")


def approx_top_ngrams(df: DataFrame, text_column: str = "text",
                      n: int = 3, k: int = 20,
                      capacity: int = 4096) -> DataFrame:
    """Heavy-hitter n-grams with BOUNDED state: Misra-Gries candidate
    generation per partition, then an exact count of the candidates
    only — the scale path for corpora whose distinct-n-gram universe
    defeats :func:`top_ngrams`' map-side combine (the SCALE_R6
    measurement: replica-unique grams made its exchange grow with the
    corpus).

    Pass 1 streams the exploded gram column through an Arrow
    ``mapInPandas`` Misra-Gries summary holding at most ``capacity``
    counters per partition (batched decrement: when the table
    overflows, every counter drops by the (capacity+1)-th largest value
    and non-positive ones are evicted — each decrement of d is paid for
    by d*(capacity+1) stream mass, so any gram with true frequency
    > N_partition/(capacity+1) survives its partition). Pass 2 sums the
    partial summaries (<= capacity rows per partition on the wire),
    keeps EVERY gram with a positive summed lower bound as a candidate,
    and exactly recounts only the candidates via a broadcast semi-join,
    so the result ranks true counts, never estimates.

    EXACTNESS GUARANTEE: if the true k-th count exceeds
    N/(capacity+1) (N = total gram occurrences), the result equals
    :func:`top_ngrams` exactly. Proof sketch: a gram with global
    f > N/(capacity+1) must have f_p > N_p/(capacity+1) in at least one
    partition (else summing the per-partition inequalities contradicts
    the global one), so it survives that partition's Misra-Gries table
    with a positive counter, enters the candidate set, and its final
    count is the exact recount. (An earlier revision cut candidates to
    the top ``capacity`` summed lower bounds, which can evict a true
    top-k gram whose surviving bound is small — the bound above did NOT
    hold for that cut.) Below the skew bound the top of the list is
    still exact counts of real heavy candidates, but a tail gram may be
    missed; size ``capacity`` to the corpus (4096 covers k=20 for any
    corpus where the 20th boilerplate string is at least ~0.02% of gram
    mass).

    State bound: the candidate set is at most ``capacity`` rows per
    pass-1 partition (the broadcast recount side is <= capacity * P
    short strings — ~160 MB at capacity 4096 over 1000 partitions;
    shrink ``capacity`` or partition count if that broadcast is too
    large for the cluster).

    Returns (rank, ngram, count) like :func:`top_ngrams`, same
    deterministic total order.
    """
    if capacity < k:
        raise ValueError(
            f"capacity ({capacity}) must be >= k ({k}); the candidate "
            "pool cannot be smaller than the requested top-k")
    import pandas as pd

    grams = df.select(
        F.explode(ngram_array(F.col(text_column), n)).alias("ngram"))

    def _misra_gries(frames):
        counters: dict = {}
        for pdf in frames:
            for g, c in pdf["ngram"].value_counts().items():
                counters[g] = counters.get(g, 0) + int(c)
            if len(counters) > capacity:
                # batched decrement: drop everything by the
                # (capacity+1)-th largest value
                d = sorted(counters.values(), reverse=True)[capacity]
                counters = {g: v - d for g, v in counters.items()
                            if v - d > 0}
        if counters:
            yield pd.DataFrame({"ngram": list(counters.keys()),
                                "lb": list(counters.values())})

    partials = grams.mapInPandas(_misra_gries, "ngram string, lb long")
    # every positive-lb gram stays a candidate — cutting to the top
    # `capacity` bounds here can evict a true top-k gram whose surviving
    # bound is small, voiding the exactness guarantee (see docstring)
    candidates = (
        partials.groupBy("ngram").agg(F.sum("lb").alias("lb"))
        .filter(F.col("lb") > 0)
        .select("ngram")
    )
    exact = (
        grams.join(F.broadcast(candidates), "ngram", "left_semi")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
    from pyspark.sql import Window

    top = exact.orderBy(F.desc("count"), F.asc("ngram")).limit(k)
    w = Window.orderBy(F.desc("count"), F.asc("ngram"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "ngram", "count")
