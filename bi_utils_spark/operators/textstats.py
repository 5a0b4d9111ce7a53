"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.14 X5).

All hot-path expressions are native Spark SQL functions — tokenize,
count, ratio, and fingerprint run inside whole-stage codegen with zero
Python. At 100 TB these are embarrassingly parallel map-side
projections over the document scan: no shuffle except the explicit
``groupBy`` aggregations, which combine map-side first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str

# Per-language function-word profiles for the heuristic language-ID
# scorer: the most frequent closed-class words of each language
# (articles, pronouns, conjunctions, prepositions, auxiliaries) —
# standard public stopword knowledge, ~40 words × 21 languages.
# Function words are the classic language-ID signal (Cavnar &
# Trenkle's n-gram profiles reduced to whole-word profiles): they are
# ubiquitous in running text and nearly disjoint across languages.
# Scoring stays a pure codegen expression — each profile is an array
# literal intersected with the token set, no broadcast, no shuffle.
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


def language_scores(c: ColumnOrName) -> dict[str, Column]:
    """Per-language marker-hit counts (the n-gram-profile heuristic
    reduced to function-word profiles).

    Each profile intersects the DISTINCT token set — intersection is
    distinct by definition, and deduplicating once shrinks the array
    all |languages| intersections walk. The identical
    array_distinct(tokens) subtree is collapsed to one evaluation by
    codegen subexpression elimination."""
    from bi_utils_spark.functions.litarrays import lit_string_array

    toks = F.array_distinct(tokens(c))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        out[lang] = F.size(F.array_intersect(toks, lit_string_array(markers)))
    return out


def language_id(c: ColumnOrName, default: str = "und") -> Column:
    """Argmax language by marker hits; ``default`` when no marker hits.

    Ties break by language code order (deterministic). Pure Column
    expression — a broadcast-free, shuffle-free classifier.

    Implementation note: argmax is ``array_max`` over (score, −rank,
    lang) structs — lexicographic struct ordering picks the highest
    score and, on ties, the earliest language in sorted-code order.
    A fold of nested when/otherwise accumulators would duplicate the
    whole prior expression tree at every step (2^|languages| nodes —
    unplannable beyond ~15 languages); the struct array keeps every
    profile intersection evaluated exactly once.
    """
    scores = language_scores(c)
    langs = sorted(scores)
    entries = F.array(
        *[
            F.struct(
                scores[lang].alias("s"),
                F.lit(-i).alias("r"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(entries)
    return F.when(best.getField("s") <= 0, F.lit(default)).otherwise(
        best.getField("lang")
    )


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
