"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.14 X5).

Tokenize, count, ratio, and fingerprint are native Spark SQL
functions that run inside whole-stage codegen with zero Python. The
one exception is :func:`language_id`: tokens are hashed in the JVM
(``xxhash64``, the ``lshkern`` token-hash contract) and scored against
the marker profiles in one scalar Arrow pass (``F.arrow_udf``), which
replaces 21 per-row array intersections. At 100 TB these are
embarrassingly parallel map-side projections over the document scan:
no shuffle except the explicit ``groupBy`` aggregations, which combine
map-side first.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ColumnOrName = Column | str

# Per-language function-word profiles for the heuristic language-ID
# scorer: the most frequent closed-class words of each language
# (articles, pronouns, conjunctions, prepositions, auxiliaries) —
# standard public stopword knowledge, ~40 words × 21 languages.
# Function words are the classic language-ID signal (Cavnar &
# Trenkle's n-gram profiles reduced to whole-word profiles): they are
# ubiquitous in running text and nearly disjoint across languages.
# Scoring is one Arrow pass over per-token hashes (language_id), no
# broadcast, no shuffle.
# Space-free scripts (zh/ja) only match where text is pre-segmented;
# plug a segmenter in front for those corpora.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (
        "the", "and", "of", "to", "a", "is", "in", "it", "you", "that",
        "he", "was", "for", "on", "are", "with", "as", "his", "they",
        "at", "be", "this", "have", "from", "or", "had", "by", "not",
        "but", "what", "some", "we", "can", "out", "were", "all",
        "there", "when", "your", "how",
    ),
    "de": (
        "der", "die", "das", "und", "ist", "nicht", "ich", "sie", "du",
        "er", "es", "wir", "ihr", "ein", "eine", "einen", "dem", "den",
        "des", "im", "auf", "mit", "für", "von", "zu", "aus", "bei",
        "nach", "über", "aber", "auch", "als", "wenn", "noch", "wie",
        "war", "sind", "haben", "hat", "werden",
    ),
    "es": (
        "el", "la", "de", "que", "y", "es", "a", "en", "un", "una",
        "ser", "se", "no", "por", "con", "su", "para", "como", "estar",
        "tener", "le", "lo", "todo", "pero", "más", "hacer", "o",
        "poder", "decir", "este", "ir", "otro", "ese", "me", "ya",
        "ver", "porque", "dar", "cuando", "muy",
    ),
    "fr": (
        "le", "la", "et", "les", "des", "est", "de", "un", "une", "du",
        "en", "au", "aux", "ce", "cette", "que", "qui", "dans", "pour",
        "pas", "ne", "sur", "se", "plus", "par", "avec", "tout",
        "faire", "son", "sont", "autre", "on", "mais", "nous", "comme",
        "ou", "si", "leur", "y", "dire",
    ),
    "it": (
        "il", "la", "di", "che", "e", "è", "un", "una", "in", "per",
        "non", "con", "si", "da", "come", "lo", "le", "dei", "delle",
        "più", "ma", "anche", "sono", "essere", "avere", "questo",
        "quella", "su", "del", "alla", "nel", "gli", "ci", "io", "tu",
        "lui", "lei", "noi", "voi", "loro",
    ),
    "pt": (
        "o", "a", "de", "que", "e", "é", "do", "da", "em", "um", "uma",
        "para", "não", "com", "os", "as", "se", "na", "no", "por",
        "mais", "dos", "das", "como", "mas", "foi", "ao", "ele", "ela",
        "são", "sua", "seu", "ou", "quando", "muito", "nos", "já",
        "está", "eu", "também",
    ),
    "nl": (
        "de", "het", "een", "en", "van", "ik", "te", "dat", "die",
        "in", "is", "hij", "niet", "zijn", "op", "aan", "met", "als",
        "voor", "had", "er", "maar", "om", "hem", "dan", "zou", "of",
        "wat", "mijn", "men", "dit", "zo", "door", "over", "ze",
        "zich", "bij", "ook", "je", "mij",
    ),
    "sv": (
        "och", "det", "att", "i", "en", "jag", "hon", "som", "han",
        "på", "den", "med", "var", "sig", "för", "så", "till", "är",
        "men", "ett", "om", "hade", "vi", "av", "inte", "de", "du",
        "har", "vad", "ju", "kan", "när", "man", "din", "nu", "sin",
        "min", "ska", "vara", "där",
    ),
    "da": (
        "og", "i", "jeg", "det", "at", "en", "den", "til", "er",
        "som", "på", "de", "med", "han", "af", "for", "ikke", "der",
        "var", "mig", "sig", "men", "et", "har", "om", "vi", "min",
        "havde", "ham", "hun", "nu", "over", "da", "fra", "du", "ud",
        "sin", "dem", "os", "op",
    ),
    "no": (
        "og", "i", "jeg", "det", "at", "en", "et", "den", "til",
        "er", "som", "på", "de", "med", "han", "av", "ikke", "der",
        "så", "var", "meg", "seg", "men", "har", "om", "vi", "min",
        "mitt", "ha", "hadde", "hun", "nå", "over", "da", "ved",
        "fra", "du", "ut", "sin", "mot",
    ),
    "pl": (
        "w", "i", "na", "z", "do", "to", "że", "się", "nie", "jest",
        "jak", "co", "po", "tak", "o", "ale", "jego", "przez", "dla",
        "od", "przy", "czy", "tylko", "już", "może", "być", "był",
        "była", "było", "są", "ja", "ty", "my", "wy", "jej", "ich",
        "tym", "te", "ten", "która",
    ),
    "cs": (
        "a", "se", "na", "v", "je", "že", "o", "s", "z", "do", "to",
        "jak", "ale", "co", "pro", "tak", "po", "když", "nebo",
        "jsem", "jsi", "jsme", "byl", "byla", "bylo", "jsou", "být",
        "má", "mě", "ho", "mi", "si", "k", "i", "u", "od", "za",
        "před", "mezi", "podle",
    ),
    "ro": (
        "și", "de", "la", "a", "în", "să", "nu", "ce", "cu", "pe",
        "este", "un", "o", "mai", "care", "din", "pentru", "dar",
        "sau", "sunt", "fost", "avea", "el", "ea", "noi", "voi",
        "ei", "lor", "își", "fi", "era", "când", "cum", "după",
        "prin", "dacă", "ca", "al", "ale", "unei",
    ),
    "tr": (
        "bir", "ve", "bu", "da", "de", "ne", "için", "ile", "mi",
        "ama", "ben", "sen", "o", "biz", "siz", "onlar", "çok",
        "daha", "var", "yok", "gibi", "kadar", "sonra", "ki", "en",
        "her", "şey", "benim", "senin", "onun", "bizim", "diye",
        "ise", "değil", "olarak", "olan", "oldu", "olur", "önce",
        "şu",
    ),
    "id": (
        "yang", "dan", "di", "itu", "dengan", "untuk", "tidak",
        "ini", "dari", "dalam", "akan", "pada", "juga", "saya",
        "ke", "karena", "tetapi", "ada", "mereka", "sudah", "atau",
        "seperti", "bisa", "kita", "kami", "dia", "anda", "telah",
        "oleh", "saat", "harus", "sangat", "lebih", "masih",
        "hanya", "banyak", "satu", "dua", "bagi", "secara",
    ),
    "fi": (
        "ja", "on", "ei", "se", "että", "en", "oli", "hän", "mutta",
        "niin", "kun", "minä", "sinä", "me", "te", "he", "ole",
        "sen", "mitä", "tämä", "joka", "sitä", "kuin", "myös",
        "jos", "nyt", "vain", "mukaan", "hänen", "sitten", "kaikki",
        "kanssa", "siitä", "tai", "vielä", "jo", "näin", "koska",
        "missä", "jotka",
    ),
    "hu": (
        "a", "az", "és", "nem", "hogy", "is", "egy", "ez", "de",
        "van", "volt", "meg", "ha", "már", "csak", "mint", "el",
        "még", "ki", "mi", "te", "ő", "mert", "nagyon", "lehet",
        "vagy", "kell", "itt", "ott", "aki", "ami", "azt", "ezt",
        "majd", "így", "úgy", "most", "minden", "olyan", "annak",
    ),
    "ru": (
        "и", "в", "не", "на", "я", "быть", "он", "с", "что", "а",
        "по", "это", "она", "этот", "к", "но", "они", "мы", "как",
        "из", "у", "который", "то", "за", "свой", "весь", "год",
        "от", "так", "о", "для", "ты", "же", "все", "тот", "мочь",
        "вы", "человек", "такой", "его",
    ),
    "ar": (
        "في", "من", "على", "و", "أن", "إلى", "عن", "مع", "هذا",
        "هذه", "ذلك", "التي", "الذي", "كان", "كانت", "لا", "ما",
        "هو", "هي", "أو", "ثم", "قد", "كل", "بعد", "غير", "حتى",
        "إذا", "كما", "لم", "لن", "هناك", "منذ", "بين", "يوم",
        "أي", "عند", "قبل", "لكن", "ليس", "عليه",
    ),
    "zh": (
        "的", "是", "不", "了", "在", "我", "有", "和", "就", "人",
        "都", "一", "一个", "上", "也", "很", "到", "说", "要",
        "去", "你", "会", "着", "没有", "看", "好", "自己", "这",
        "那", "他", "她", "它", "们", "与", "及", "或", "被",
        "对", "从", "而",
    ),
    "ja": (
        "の", "に", "は", "を", "た", "が", "で", "て", "と", "し",
        "れ", "さ", "ある", "いる", "も", "する", "から", "な",
        "こと", "として", "い", "や", "など", "なっ", "ない",
        "この", "ため", "その", "あっ", "よう", "また", "もの",
        "という", "あり", "まで", "られ", "なる", "へ", "か",
        "だ",
    ),
}

# English stopword list for quality gating — kept separate from the
# (larger) language-ID profiles so quality_score's semantics don't
# move when profiles are tuned.
EN_STOPWORDS: tuple[str, ...] = ("the", "and", "of", "to", "a", "is")


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    return F.split(F.trim(F.lower(_col(c))), r"\s+")


def token_count(c: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def word_token_count(c: ColumnOrName) -> Column:
    """BPE-ish token count: word pieces + digits + punctuation runs
    counted separately (a cheap proxy for subword tokenizer load).

    ``regexp_count`` counts the same non-overlapping matches
    ``size(regexp_extract_all(...))`` would, without materializing the
    match array (guide §4.1 — cheapest built-in that computes it)."""
    return F.regexp_count(
        F.lower(_col(c)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    )


# The exact character set of the Java regex [A-Za-z0-9\s] (\s without
# UNICODE_CHARACTER_CLASS = [ \t\n\x0B\f\r]) — punct_ratio counts its
# complement with translate (single char-set pass, no regex engine).
_ALNUM_WS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\f\r"
)


def punct_ratio(c: ColumnOrName) -> Column:
    """Non-alphanumeric-non-space chars / total chars (0 for empty)."""
    c = _col(c)
    total = F.length(c)
    punct = F.length(F.translate(c, _ALNUM_WS, ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / total.cast("double")
    )


def stopword_ratio(c: ColumnOrName, stopwords: Sequence[str]) -> Column:
    """Fraction of tokens that are stopwords."""
    from bi_utils_spark.functions.litarrays import lit_string_array

    toks = tokens(c)
    sw = lit_string_array(stopwords)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double")
    )


def mean_word_length(c: ColumnOrName) -> Column:
    """Average token length in characters (0 for empty)."""
    toks = tokens(c)
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def quality_score(
    c: ColumnOrName,
    min_tokens: int = 20,
    max_punct_ratio: float = 0.2,
    stopwords: Sequence[str] = EN_STOPWORDS,
) -> Column:
    """Composite quality heuristic in [0, 1]: length gate, punctuation
    gate, stopword-presence signal — the C4-style gating used by
    pretraining-data filters, as one codegen'd expression."""
    length_ok = (token_count(c) >= min_tokens).cast("double")
    punct_ok = (punct_ratio(c) <= max_punct_ratio).cast("double")
    sw = stopword_ratio(c, stopwords)
    sw_signal = F.least(sw * 5.0, F.lit(1.0))  # saturates at 20% stopwords
    return (length_ok + punct_ok + sw_signal) / 3.0


@functools.cache
def _marker_table() -> tuple[list[str], np.ndarray, np.ndarray]:
    """(language codes in sorted order, sorted distinct marker-word
    hashes, per-hash bitmask of the languages that list the word). The
    hashes are Spark's own ``xxhash64`` of each word, evaluated on the
    driver from a local relation (no job), so they match the JVM token
    hashes bit for bit."""
    langs = sorted(LANG_MARKERS)
    words = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    rows = SparkSession.active().sql(
        "SELECT w, xxhash64(w) FROM VALUES "
        + ", ".join(f"('{w}')" for w in words)
        + " AS t(w)"
    ).collect()
    word_hash = dict(rows)
    masks: dict[int, int] = {}
    for bit, lang in enumerate(langs):
        for w in LANG_MARKERS[lang]:
            masks[word_hash[w]] = masks.get(word_hash[w], 0) | (1 << bit)
    keys = np.array(sorted(masks), dtype=np.int64)
    return langs, keys, np.array([masks[k] for k in keys], dtype=np.int64)


def language_id(c: ColumnOrName, default: str = "und") -> Column:
    """Argmax language by marker hits; ``default`` when no marker hits;
    NULL text gives NULL.

    A language's score is the number of its distinct marker words
    (``LANG_MARKERS``) among the document's ``tokens``. Ties break by
    language code order (deterministic). Map-only, broadcast-free and
    shuffle-free, and a plain Column, so it runs on streams too.

    Implementation: the JVM hashes every token (``xxhash64``, the
    ``lshkern`` token-hash contract); one scalar ``arrow_udf`` looks
    every token hash up in the sorted marker hashes, each carrying a
    bitmask of the languages that list the word, counts distinct hits
    per language, and takes the first argmax in sorted-code order.
    Exact up to a 64-bit hash collision between a token and one of the
    663 marker words.
    """
    from bi_utils_spark.operators.lshkern import _flat_token_hashes, _token_hashes

    langs, keys, masks = _marker_table()
    labels = np.array([*langs, default], dtype=object)
    bits = np.arange(len(langs), dtype=np.int64)

    def label(th: pa.Array) -> pa.Array:
        valid = th.is_valid().to_numpy(zero_copy_only=False)
        flat, lengths = _flat_token_hashes(th.filter(pa.array(valid)))
        doc = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
        pos = np.minimum(np.searchsorted(keys, flat), len(keys) - 1)
        hit = keys[pos] == flat
        # distinct (doc, marker) hits, then one vote per listing language
        d, m = np.divmod(np.unique(doc[hit] * len(keys) + pos[hit]), len(keys))
        scores = np.zeros((len(lengths), len(langs)), dtype=np.int64)
        np.add.at(scores, d, (masks[m][:, None] >> bits) & 1)
        best = scores.argmax(axis=1)
        best[scores.max(axis=1) == 0] = len(langs)
        out = np.full(len(th), None, dtype=object)
        out[valid] = labels[best]
        return pa.array(out, type=pa.string())

    return F.arrow_udf(label, "string")(_token_hashes(c))


def content_fingerprint(c: ColumnOrName) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set. Identical token multisets-modulo-order map to
    one fingerprint — the cheap first stage of near-dup detection
    (full MinHash lives in ``dedup``)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(c))), " ")
    )


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-pass per-document stat panel (all codegen'd)."""
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        word_token_count(text_col).alias("n_word_tokens"),
        F.length(F.col(text_col)).alias("n_chars_measured"),
        punct_ratio(text_col).alias("punct_ratio"),
        mean_word_length(text_col).alias("mean_word_len"),
        content_fingerprint(text_col).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality signals): duplicate lines,
# duplicate n-grams, most-frequent-n-gram mass. All map-only codegen
# expressions over per-document arrays — no shuffle, no Python. The
# classic explode+groupBy formulation would shuffle the whole token
# stream (~corpus size × n); folding over per-document sorted arrays
# keeps repetition analysis embarrassingly parallel at 100 TB.
# ---------------------------------------------------------------------------


def grams(toks: Column, n: int, sep: str = " ") -> Column:
    """Non-distinct n-gram strings of a token-array column; empty array
    when the document has fewer than ``n`` tokens. (Hashed shingles
    for near-dup work: ``operators/lshkern.py``.)"""
    last = F.size(toks) - (n - 1)
    return F.when(last <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), last),
            lambda i: F.array_join(F.slice(toks, i, n), sep),
        )
    )


def _dup_frac(arr: Column) -> Column:
    """1 − |distinct| / |all| (0.0 for empty arrays)."""
    tot = F.size(arr)
    return F.when(tot == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(arr)).cast("double") / tot.cast("double")
    )


def _dup_char_frac(arr: Column) -> Column:
    """1 − chars(distinct) / chars(all): fraction of characters sitting
    in repeat occurrences (0.0 when the array holds no characters)."""
    chars = lambda a: F.aggregate(  # noqa: E731
        F.transform(a, F.length), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    tot = chars(arr)
    return F.when((tot.isNull()) | (tot == 0), F.lit(0.0)).otherwise(
        F.lit(1.0) - chars(F.array_distinct(arr)).cast("double") / tot.cast("double")
    )


def _max_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal neighbours in a sorted array
    = the count of its most frequent element. Single fold, codegen'd."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(
            acc.getField("prev").isNotNull() & (x == acc.getField("prev")),
            acc.getField("run") + 1,
        ).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc.getField("best"))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition panel:

    - ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of lines /
      line-characters that are repeats of an earlier identical line;
    - ``dup_5gram_frac`` — fraction of token 5-grams that are repeats;
    - ``top_2gram_frac`` — mass of the most frequent token 2-gram.

    The Gopher filters gate on exactly these (e.g. drop when
    dup_line_frac > 0.30 or top_2gram_frac > 0.20). Arrays are staged
    as named columns between selects so tokenization runs once per
    document (CollapseProject leaves multiply-referenced non-trivial
    aliases staged)."""
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("_toks"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )
    arrs = staged.select(
        "doc_id",
        "_lines",
        grams(F.col("_toks"), 2).alias("_g2"),
        grams(F.col("_toks"), 5).alias("_g5"),
    )
    g2_tot = F.size(F.col("_g2"))
    top2 = _max_run(F.array_sort(F.col("_g2")))
    return arrs.select(
        "doc_id",
        _dup_frac(F.col("_lines")).alias("dup_line_frac"),
        _dup_char_frac(F.col("_lines")).alias("dup_line_char_frac"),
        _dup_frac(F.col("_g5")).alias("dup_5gram_frac"),
        F.when(g2_tot == 0, F.lit(0.0))
        .otherwise(top2.cast("double") / g2_tot.cast("double"))
        .alias("top_2gram_frac"),
    )
