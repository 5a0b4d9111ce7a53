"""Text cleaning / PII redaction for training-data pipelines.

The preprocessing stage that sits BEFORE dedup and quality filtering
(textstats.py) in an LLM data pipeline: scrub personally identifiable
substrings, strip markup and control characters, and normalize
whitespace — all as native Column expressions (`regexp_replace`
chains), so the whole cleanup is one codegen'd projection fused into
the scan. No reference counterpart (the reference's only privacy
primitive is SHA-1 id hashing, bi_utils/utils.py:46-55 — hash_id in
functions/scalars.py); patterns follow the common public recipes
(e.g. C4/RefinedWeb-style pipeline stages).

Scale: map-only by construction — zero shuffles, no Python, safe to
fuse with any downstream operator. Regexes are bounded-backtracking
(character classes + counted runs, no nested quantifiers).

Guards: a regex pass runs only on rows whose RAW input holds the literal
its pattern needs — ``<`` for tags, ``&`` for entities, ``@`` for
emails, ``://`` or ``www.`` for URLs, a digit-dot-digit run for IPv4 —
so most documents skip most passes. This is exact because no earlier
pass can create a later pass's literal: markup stripping inserts only
``" "`` and the characters ``&<>"'``, and the default placeholders hold
none of ``@:/w.`` or digits, so a literal absent from the raw input is
absent from the running value too. A placeholder that is empty (it
joins its neighbours) or holds a character of a later literal turns
that later guard off. The guard tests the raw input column, never the
running value: a guard on the running value would repeat the whole
chain inside each condition and grow the expression exponentially. The
phone pass has no guard, because the spaces markup stripping inserts
can complete a phone match.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.column import Column as ColumnType

ColumnOrName = ColumnType | str

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"(?:https?://|www\.)[^\s]+"
# 7+ digits with optional separators, anchored away from digit runs
# inside words; intentionally conservative (favors precision).
PHONE_RE = r"(?<![0-9A-Za-z])\+?[0-9][0-9 ()./-]{5,}[0-9](?![0-9A-Za-z])"
IPV4_RE = (
    r"(?<![0-9A-Za-z])(?<![0-9]\.)"          # not inside a word or dotted run
    r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}"
    r"(?!\.?[0-9])(?![A-Za-z])"              # not continued by more octets/words
)
TAG_RE = r"<[^>]{1,500}>"
CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _guarded(out: Column, pass_: Column, guard: Column | None) -> Column:
    """``pass_`` (a rewrite of ``out``) where ``guard`` holds, else
    ``out`` unchanged; no guard runs the pass on every row."""
    return pass_ if guard is None else F.when(guard, pass_).otherwise(out)


def _has(raw: Column, *literals: str) -> Column:
    return reduce(operator.or_, (F.contains(raw, F.lit(s)) for s in literals))


def _redact_pii(
    out: Column, raw: Column, email: str | None, url: str | None,
    phone: str | None, ip: str | None,
) -> Column:
    """:func:`redact_pii` over the running value ``out`` of the raw
    input ``raw``, each regex pass guarded as the module docstring
    says."""
    passes = (
        (email, EMAIL_RE, "@", _has(raw, "@")),
        (url, URL_RE, ":/w.", _has(raw, "://", "www.")),
        (ip, IPV4_RE, "0123456789.", raw.rlike(r"[0-9]\.[0-9]")),
        (phone, PHONE_RE, "", None),
    )
    placed: list[str] = []  # placeholders earlier passes insert
    for repl, pattern, chars, guard in passes:
        if repl is None:
            continue
        if any(p == "" or set(p) & set(chars) for p in placed):
            guard = None
        out = _guarded(out, F.regexp_replace(out, pattern, repl), guard)
        placed.append(repl)
    return out


def redact_pii(
    c: ColumnOrName,
    email: str = "<EMAIL>",
    url: str = "<URL>",
    phone: str = "<PHONE>",
    ip: str = "<IP>",
) -> Column:
    """Replace emails, URLs, phone-like digit runs, and IPv4 literals
    with typed placeholder tokens (pass None for a class to skip it).

    Order matters: URLs before phones (URLs contain digit runs),
    emails before URLs (hosts look like domains). Each pass but the
    phone pass runs only on rows that hold its literal (module
    docstring)."""
    return _redact_pii(_col(c), _col(c), email, url, phone, ip)


def _strip_markup(out: Column, raw: Column) -> Column:
    out = _guarded(out, F.regexp_replace(out, TAG_RE, " "), _has(raw, "<"))
    decoded = out
    for ent, ch in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    return _guarded(out, decoded, _has(raw, "&"))


def strip_markup(c: ColumnOrName) -> Column:
    """Drop HTML/XML tags and decode the five XML entities (on rows
    holding ``<`` / ``&`` only)."""
    return _strip_markup(_col(c), _col(c))


def normalize_whitespace(c: ColumnOrName) -> Column:
    """Strip control characters, collapse whitespace runs to one
    space, and trim — the canonical form dedup should see."""
    out = F.regexp_replace(_col(c), CONTROL_RE, " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def clean_text(
    c: ColumnOrName,
    markup: bool = True,
    pii: bool = True,
    whitespace: bool = True,
) -> Column:
    """The composed pipeline: markup → PII → whitespace. Each stage
    is optional; the result is still ONE projection expression, whose
    guards all test the raw input ``c``."""
    out = raw = _col(c)
    if markup:
        out = _strip_markup(out, raw)
    if pii:
        out = _redact_pii(out, raw, "<EMAIL>", "<URL>", "<PHONE>", "<IP>")
    if whitespace:
        out = normalize_whitespace(out)
    return out


def pii_counts(c: ColumnOrName) -> dict[str, Column]:
    """Per-row counts of each PII class (for corpus audit reports):
    {'n_emails', 'n_urls', 'n_ips', 'n_phones'} column expressions."""
    col = _col(c)
    return {
        "n_emails": F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), F.lit(0))),
        "n_urls": F.size(F.regexp_extract_all(col, F.lit(URL_RE), F.lit(0))),
        "n_ips": F.size(F.regexp_extract_all(col, F.lit(IPV4_RE), F.lit(0))),
        "n_phones": F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), F.lit(0))),
    }
