"""Text cleaning / PII redaction (operators/textclean.py)."""

from pyspark.sql import functions as F

from bi_utils_spark.operators import textclean as tc


def _one(spark, text, col):
    return (
        spark.createDataFrame([(text,)], ["text"])
        .select(col.alias("out"))
        .first()["out"]
    )


def test_redact_email_url(spark):
    out = _one(
        spark,
        "mail me at a.b+c@example.co.uk or see https://x.io/p?q=1 and www.y.de/z",
        tc.redact_pii("text"),
    )
    assert out == "mail me at <EMAIL> or see <URL> and <URL>"


def test_redact_phone_and_ip(spark):
    out = _one(
        spark,
        "call +49 (30) 123-4567 from 10.0.0.1 but not v1.2.3.4beta or id 12345678x",
        tc.redact_pii("text"),
    )
    assert "<PHONE>" in out
    assert "<IP>" in out
    assert "v1.2.3.4beta" in out          # embedded in a word: untouched
    assert "12345678x" in out             # digit run glued to a letter: untouched


def test_strip_markup_and_entities(spark):
    out = _one(
        spark,
        "<p>a &amp; b</p><br/>c &lt;tag&gt;",
        tc.normalize_whitespace(tc.strip_markup("text")),
    )
    assert out == 'a & b c <tag>'


def test_normalize_whitespace_and_control(spark):
    out = _one(spark, "  a\x00b\t\tc\n\n d  ", tc.normalize_whitespace("text"))
    assert out == "a b c d"


def test_clean_text_composes_one_projection(spark):
    df = spark.createDataFrame([("<b>Hi</b> a@b.com  now",)], ["text"])
    plan = df.select(tc.clean_text("text").alias("c"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # map-only: no shuffle anywhere
    assert df.select(tc.clean_text("text").alias("c")).first()["c"] == "Hi <EMAIL> now"


def test_pii_counts(spark):
    cnt = tc.pii_counts("text")
    row = (
        spark.createDataFrame([("a@b.co and c@d.org at https://e.f",)], ["text"])
        .select(*[v.alias(k) for k, v in cnt.items()])
        .first()
    )
    assert row["n_emails"] == 2
    assert row["n_urls"] == 1
    assert row["n_phones"] == 0


# --- guarded passes: exact against the unguarded chain ------------------------

_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"))


def _unguarded_pii(out, email="<EMAIL>", url="<URL>", phone="<PHONE>", ip="<IP>"):
    """redact_pii as a plain regexp_replace chain: every pass on every row."""
    for pattern, repl in ((tc.EMAIL_RE, email), (tc.URL_RE, url),
                          (tc.IPV4_RE, ip), (tc.PHONE_RE, phone)):
        if repl is not None:
            out = F.regexp_replace(out, pattern, repl)
    return out


def _unguarded_clean(c):
    out = F.regexp_replace(F.col(c), tc.TAG_RE, " ")
    for ent, ch in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(_unguarded_pii(out), tc.CONTROL_RE, " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


_EDGE_TEXTS = [
    None,
    "",
    "123<b>4567 x",
    "a@b.co+c@d.ef",
    "ww<i>w.x.com",
    "1&amp;.2.3.4",
    "http://x&lt;y",
    "&amp;lt; 10.0.0.1 <p>x@y.org</p>",
    "call +49 (30) 123-4567 now",
    "tel 030/1234<br>567 and 1.2.3.4",
    "http:a@b.co//x see www.q.de 1.www.x y",
    "plain words only",
]


def _edge_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(_EDGE_TEXTS)], "i int, text string")


def test_clean_text_guards_are_exact(spark):
    df = _edge_df(spark)
    got = df.select("i", tc.clean_text("text").alias("a"), _unguarded_clean("text").alias("b")).collect()
    assert [r["a"] for r in got] == [r["b"] for r in got]
    assert got[0]["a"] is None
    for markup, pii, ws in [(False, True, True), (True, False, True), (True, True, False)]:
        sub = tc.clean_text("text", markup=markup, pii=pii, whitespace=ws)
        ref = F.col("text")
        if markup:
            ref = F.regexp_replace(ref, tc.TAG_RE, " ")
            for ent, ch in _ENTITIES:
                ref = F.replace(ref, F.lit(ent), F.lit(ch))
        if pii:
            ref = _unguarded_pii(ref)
        if ws:
            ref = F.trim(F.regexp_replace(F.regexp_replace(ref, tc.CONTROL_RE, " "), r"\s+", " "))
        rows = df.select(sub.alias("a"), ref.alias("b")).collect()
        assert [r["a"] for r in rows] == [r["b"] for r in rows], (markup, pii, ws)


def test_redact_pii_custom_placeholders_are_exact(spark):
    df = _edge_df(spark).unionByName(spark.createDataFrame(
        [(100, "see www.x.com now"), (101, "mail a@b.co."), (102, "go http://h.io/p 7")],
        "i int, text string"))
    # placeholders holding a later pass's literal characters: @ . digits ://
    for kw in [
        {"email": "x@y", "url": "1.2", "ip": "http://", "phone": "9.9"},
        {"url": "0.0.0.0"},
        {"email": "www.q"},
        {"email": ""},
        {"email": "a://b", "url": None},
        {"url": "", "ip": None},
        {"phone": "1.1.1.1", "email": "@@"},
    ]:
        rows = df.select(tc.redact_pii("text", **kw).alias("a"),
                         _unguarded_pii(F.col("text"), **kw).alias("b")).collect()
        assert [r["a"] for r in rows] == [r["b"] for r in rows], kw


def test_clean_text_expression_stays_small(spark):
    # guards test the raw input, so the chain doubles once per guarded
    # pass; a guard on the running value would grow it far past this
    assert str(tc.clean_text("text")).count("regexp_replace(") <= 32
