"""Tests for streaming alert dedup + watermark helpers (SURVEY.md §2.12)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from bi_utils_spark.streaming.alerts import decide_alerts_batch, decide_alerts_stream
from bi_utils_spark.streaming.watermark import (
    run_stream_to_memory,
    windowed_counts,
    with_lookback_watermark,
)


def test_decide_alerts_batch(spark):
    history = spark.createDataFrame(
        [
            ("job_a", "errors", 10.0, dt.datetime(2024, 1, 1)),
            ("job_a", "errors", 50.0, dt.datetime(2024, 1, 2)),  # latest
        ],
        ["identifier", "dedup_key", "value", "last_alert"],
    )
    current = spark.createDataFrame(
        [
            ("job_a", "errors", 52.0),   # |52-50| < 5 → no resend
            ("job_b", "errors", 1.0),    # no history → send
        ],
        ["identifier", "dedup_key", "value"],
    )
    out = decide_alerts_batch(
        current,
        history,
        ["identifier", "dedup_key"],
        "value",
        "value",
        "last_alert",
        resend_threshold=5.0,
    )
    got = {r["identifier"]: (r["last_value"], r["should_send"]) for r in out.collect()}
    assert got == {"job_a": (50.0, False), "job_b": (None, True)}


def test_decide_alerts_stream_stateful(spark, tmp_path):
    # land a keyed stream as files and drive it through the stateful op
    src = tmp_path / "stream"
    src.mkdir()
    rows = [
        '{"k": "a", "value": 10.0}',
        '{"k": "a", "value": 12.0}',
    ]
    (src / "b0.jsonl").write_text("\n".join(rows))
    stream = (
        spark.readStream.schema("k string, value double").json(str(src))
    )
    decided = decide_alerts_stream(stream, ["k"], "value", resend_threshold=5.0)
    run_stream_to_memory(decided, "alert_out")
    got = {
        r["key"]: (r["current_value"], r["should_send"])
        for r in spark.sql("SELECT * FROM alert_out").collect()
    }
    # single micro-batch: newest observation (12.0) vs no prior state → send
    assert got == {"a": (12.0, True)}


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        '{"ts": "2024-01-01T00:01:00.000Z", "event_type": "x", "value": 1.0}\n'
        '{"ts": "2024-01-01T00:02:00.000Z", "event_type": "x", "value": 2.0}\n'
        '{"ts": "2024-01-01T00:59:00.000Z", "event_type": "x", "value": 3.0}\n'
    )
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).json(str(src))
    agg = windowed_counts(
        with_lookback_watermark(stream, "ts", "10 minutes"),
        "ts",
        "30 minutes",
        None,
        "event_type",
    )
    run_stream_to_memory(agg, "win_out")
    rows = spark.sql("SELECT n, total_value FROM win_out ORDER BY n DESC").collect()
    assert [(r["n"], r["total_value"]) for r in rows] == [(2, 3.0), (1, 3.0)]


def test_alert_state_carries_across_batches(spark, tmp_path):
    # batch 1: no prior state → send; batch 2: |13-12| < 5 → suppressed;
    # batch 3: |30-12| ≥ 5 → send again. State lives in the query, not
    # the driver.
    src = tmp_path / "stream2"
    src.mkdir()
    stream = spark.readStream.schema("k string, value double").json(str(src))
    decided = decide_alerts_stream(stream, ["k"], "value", resend_threshold=5.0)
    q = (
        decided.writeStream.outputMode("update")
        .format("memory")
        .queryName("alert_multi")
        .start()
    )
    try:
        (src / "b0.jsonl").write_text('{"k": "a", "value": 12.0}')
        q.processAllAvailable()
        (src / "b1.jsonl").write_text('{"k": "a", "value": 13.0}')
        q.processAllAvailable()
        (src / "b2.jsonl").write_text('{"k": "a", "value": 30.0}')
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT current_value, should_send FROM alert_multi ORDER BY current_value"
    ).collect()
    assert [(r["current_value"], r["should_send"]) for r in rows] == [
        (12.0, True),
        (13.0, False),
        (30.0, True),
    ]


def test_streaming_flatten_of_landed_pages(spark, tmp_path):
    # §3.1 pipeline, streaming form: landed nested pages → flatten →
    # sink. flatten() is schema-driven/stateless, so the SAME operator
    # code runs in both batch and streaming.
    from bi_utils_spark.operators.nested import flatten
    from bi_utils_spark.streaming.ingest import stream_landed

    src = tmp_path / "landing"
    src.mkdir()
    (src / "page0.jsonl").write_text(
        '{"id": 1, "customer": {"name": "x"}, '
        '"lineItems": [{"sku": "a", "qty": 2}, {"sku": "b", "qty": 1}]}\n'
        '{"id": 2, "customer": {"name": "y"}, "lineItems": []}\n'
    )
    schema = (
        "id bigint, customer struct<name: string>, "
        "lineItems array<struct<sku: string, qty: bigint>>"
    )
    stream = stream_landed(spark, str(src), schema, max_files_per_trigger=1)
    flat = flatten(stream)
    q = (
        flat.writeStream.outputMode("append")
        .format("memory")
        .queryName("flat_orders")
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "page1.jsonl").write_text(
            '{"id": 3, "customer": {"name": "z"}, "lineItems": [{"sku": "c", "qty": 9}]}\n'
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT id, customer__name, lineItems__sku, lineItems__qty "
        "FROM flat_orders ORDER BY id, lineItems__sku"
    ).collect()
    got = [(r[0], r[1], r[2], r[3]) for r in rows]
    assert got == [
        (1, "x", "a", 2),
        (1, "x", "b", 1),
        (2, "y", None, None),   # empty list keeps its parent row
        (3, "z", "c", 9),
    ]


def test_session_counts_streaming(spark, tmp_path):
    # two bursts for user a separated by > gap -> two sessions; the
    # streaming session_window output must match the batch semantics
    # (session end = last event + gap)
    from bi_utils_spark.streaming.watermark import session_counts

    src = tmp_path / "sess"
    src.mkdir()
    rows = [
        '{"user": "a", "ts": "2024-01-01T10:00:00"}',
        '{"user": "a", "ts": "2024-01-01T10:10:00"}',
        '{"user": "a", "ts": "2024-01-01T12:00:00"}',
        '{"user": "b", "ts": "2024-01-01T10:05:00"}',
    ]
    (src / "b0.jsonl").write_text("\n".join(rows))
    stream = spark.readStream.schema("user string, ts timestamp").json(str(src))
    out = session_counts(stream, "ts", "30 minutes", "2 hours", "user")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (
            (r["user"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sessions_out").collect()
        )
    )
    assert got == [
        ("a", "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2),
        ("a", "2024-01-01 12:00:00", "2024-01-01 12:30:00", 1),
        ("b", "2024-01-01 10:05:00", "2024-01-01 10:35:00", 1),
    ]


def test_dedup_stream_content_drops_redelivery(spark, tmp_path):
    from bi_utils_spark.streaming.dedup import dedup_stream_content

    src = tmp_path / "dedup_src"
    src.mkdir()
    # same content re-delivered under a different event id; one clean row
    (src / "b0.jsonl").write_text(
        "\n".join(
            [
                '{"id": 1, "ts": "2024-01-01T10:00:00", "payload": "hello world"}',
                '{"id": 2, "ts": "2024-01-01T10:00:05", "payload": "hello world"}',
                '{"id": 3, "ts": "2024-01-01T10:01:00", "payload": "other"}',
            ]
        )
    )
    stream = spark.readStream.schema("id long, ts timestamp, payload string").json(
        str(src)
    )
    deduped = dedup_stream_content(stream, ["payload"], "ts", "10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM dedup_out ORDER BY id").collect()
    assert [r["id"] for r in rows] == [1, 3]
    assert "payload" in rows[0].asDict() and "__content_hash" not in rows[0].asDict()


def test_dedup_stream_content_hash_parity_with_batch(spark):
    """The stream gate and batch dedup_exact must compute the SAME
    digest for the same content (train/serve parity), including the
    NULL-vs-absent distinction: ("a", NULL, "b") must NOT collide
    with ("a", "b")-padded-with-empty — concat_ws would."""
    from pyspark.sql import functions as F

    from bi_utils_spark.operators.dedup import content_hash

    df = spark.createDataFrame(
        [("a", None, "b"), ("a", "", "b"), ("ab", "c", None), ("a", "bc", None)],
        "c1 string, c2 string, c3 string",
    )
    hashes = [
        r["h"]
        for r in df.select(content_hash(["c1", "c2", "c3"]).alias("h")).collect()
    ]
    # all four rows are distinct contents -> four distinct digests
    assert len(set(hashes)) == 4
    # parity: the streaming module uses the exact same expression object
    import bi_utils_spark.streaming.dedup as sdedup

    assert sdedup.content_hash is content_hash
    stream_expr = sdedup.content_hash(["c1", "c2", "c3"]).alias("h")
    stream_hashes = [r["h"] for r in df.select(stream_expr).collect()]
    assert stream_hashes == hashes


def test_dedup_stream_content_null_not_skipped(spark, tmp_path):
    """A NULL field is part of the identity: {"a", NULL, "b"} and
    {"a", "b", NULL} are different contents and BOTH pass the gate."""
    from bi_utils_spark.streaming.dedup import dedup_stream_content

    src = tmp_path / "dedup_null_src"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(
            [
                '{"id": 1, "ts": "2024-01-01T10:00:00", "x": "a", "y": null, "z": "b"}',
                '{"id": 2, "ts": "2024-01-01T10:00:05", "x": "a", "y": "b", "z": null}',
                '{"id": 3, "ts": "2024-01-01T10:00:10", "x": "a", "y": null, "z": "b"}',
            ]
        )
    )
    stream = spark.readStream.schema(
        "id long, ts timestamp, x string, y string, z string"
    ).json(str(src))
    deduped = dedup_stream_content(stream, ["x", "y", "z"], "ts", "10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_null_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT id FROM dedup_null_out ORDER BY id").collect()
    # 3 is a true duplicate of 1; 2 differs only in WHICH field is NULL
    assert [r["id"] for r in rows] == [1, 2]


def test_near_dedup_stream_text_drops_whitespace_jitter(spark, tmp_path):
    """VERDICT r4 #3: a re-delivered document with trivial whitespace
    jitter passes the exact gate but must be dropped by the SimHash
    gate; a genuinely distinct document is admitted. The signature the
    stream computes must equal the batch simhash64 fingerprint and the
    simhash64_rows fingerprint the batch near-dup join bands on."""
    from pyspark.sql import functions as F

    from bi_utils_spark.operators.dedup import simhash64, simhash64_rows
    from bi_utils_spark.streaming.dedup import near_dedup_stream_text

    src = tmp_path / "near_text_src"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(
            [
                '{"id": 1, "ts": "2024-01-01T10:00:00", "text": "the quick brown fox jumps"}',
                '{"id": 2, "ts": "2024-01-01T10:00:05", "text": "the  quick\\tbrown fox   jumps"}',
                '{"id": 3, "ts": "2024-01-01T10:00:10", "text": "an entirely different document body"}',
            ]
        )
    )
    stream = spark.readStream.schema("id long, ts timestamp, text string").json(
        str(src)
    )
    gated = near_dedup_stream_text(stream, "ts", "text", "10 minutes")
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("near_text_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM near_text_out ORDER BY id").collect()
    assert [r["id"] for r in rows] == [1, 3]
    # batch-parity: the admitted rows carry the batch-tier fingerprint
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (3, "an entirely different document body")],
        "id long, text string",
    )
    batch = {
        r["id"]: r["fp"]
        for r in docs.select("id", simhash64("text").alias("fp")).collect()
    }
    assert {r["id"]: r["sig64"] for r in rows} == batch
    rows_fp = {r["id"]: r["fp"] for r in simhash64_rows(docs, "id", "text").collect()}
    assert {r["id"]: r["sig64"] for r in rows} == rows_fp


def test_dedup_stream_keys_across_batches(spark, tmp_path):
    from bi_utils_spark.streaming.dedup import dedup_stream_keys

    src = tmp_path / "dedup_keys_src"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        '{"k": "a", "ts": "2024-01-01T10:00:00", "v": 1}\n'
        '{"k": "b", "ts": "2024-01-01T10:00:01", "v": 2}'
    )
    stream = spark.readStream.schema("k string, ts timestamp, v long").json(str(src))
    deduped = dedup_stream_keys(stream, ["k"], "ts", "10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_keys_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # second delivery of key "a" inside the watermark horizon
        (src / "b1.jsonl").write_text(
            '{"k": "a", "ts": "2024-01-01T10:00:30", "v": 99}\n'
            '{"k": "c", "ts": "2024-01-01T10:00:31", "v": 3}'
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["k"]: r["v"] for r in spark.sql("SELECT * FROM dedup_keys_out").collect()}
    # first occurrence of "a" wins across micro-batches; "c" passes
    assert got == {"a": 1, "b": 2, "c": 3}


# --- streaming quality gate (streaming/quality.py) ------------------------


def test_quality_gate_stream_matches_batch(spark, tmp_path):
    import json
    import os

    from bi_utils_spark.streaming.quality import quality_gate, quality_split

    good = "the of and to in " * 6       # stopword-rich, 30 tokens
    bad = "!!! ??? ..."                  # punct-heavy, 3 tokens
    src = str(tmp_path / "qsrc")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i, t in [(1, good), (2, bad)]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING").json(src)
    )
    gated = quality_gate(stream, min_quality=0.5, min_tokens=5)
    q = (
        gated.writeStream.format("memory")
        .queryName("qgate_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM qgate_out").collect()
    assert [r["doc_id"] for r in rows] == [1]
    # stateless gate: stream scores equal the batch expressions
    from bi_utils_spark.operators.textstats import quality_score

    batch = (
        spark.createDataFrame([(1, good)], ["doc_id", "text"])
        .select(quality_score("text").alias("q"))
        .first()
    )
    assert rows[0]["quality"] == batch["q"]

    # split mode tags instead of dropping
    split = quality_split(stream, min_quality=0.5, min_tokens=5)
    q2 = (
        split.writeStream.format("memory")
        .queryName("qsplit_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    got = {r["doc_id"]: r["admitted"] for r in
           spark.sql("SELECT * FROM qsplit_out").collect()}
    assert got == {1: True, 2: False}


def test_streaming_ingest_pipeline_end_to_end(spark, tmp_path):
    """Capstone: file stream → stateless quality gate → watermarked
    content dedup → per-language counts, all in ONE streaming query —
    the continuous form of the batch curation pipeline."""
    import json
    import os

    from bi_utils_spark.streaming.dedup import dedup_stream_content
    from bi_utils_spark.streaming.quality import quality_gate

    good = "the of and to in " * 6
    good2 = "the and a is of to " * 5
    bad = "!!! ???"
    src = str(tmp_path / "ingest_src")
    os.makedirs(src)
    rows = [
        (1, good, "en", "2024-01-01T10:00:00"),
        (2, good, "en", "2024-01-01T10:01:00"),   # exact re-delivery → dropped
        (3, good2, "de", "2024-01-01T10:02:00"),
        (4, bad, "en", "2024-01-01T10:03:00"),    # gated out
    ]
    with open(os.path.join(src, "b.json"), "w") as f:
        for i, t, lg, ts in rows:
            f.write(json.dumps(
                {"doc_id": i, "text": t, "src_lang": lg, "ts": ts}) + "\n")

    stream = (
        spark.readStream
        .schema("doc_id LONG, text STRING, src_lang STRING, ts TIMESTAMP")
        .json(src)
    )
    gated = quality_gate(stream, min_quality=0.5, min_tokens=5)
    deduped = dedup_stream_content(gated, ["text"], "ts", "60 minutes")
    counted = deduped.groupBy("src_lang").count()
    q = (
        counted.writeStream.format("memory")
        .queryName("ingest_pipe_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["src_lang"]: r["count"]
           for r in spark.sql("SELECT * FROM ingest_pipe_out").collect()}
    # doc 2 deduped, doc 4 gated: one en survivor, one de survivor
    assert got == {"en": 1, "de": 1}


# --- streaming classifier gate (streaming/classify.py) ---------------------


def test_classifier_gate_stream_matches_batch(spark, tmp_path):
    import json
    import os

    from bi_utils_spark.operators.classifier import (
        classifier_scores_inline,
        collect_weights,
        fit_nb_weights,
    )
    from bi_utils_spark.streaming.classify import classifier_gate

    pos = spark.createDataFrame(
        [(1, "good clean prose here"), (2, "good solid prose text")],
        ["doc_id", "text"],
    )
    neg = spark.createDataFrame(
        [(3, "spam spam buy now"), (4, "buy spam click spam")],
        ["doc_id", "text"],
    )
    wq = collect_weights(fit_nb_weights(pos, neg, num_buckets=64))

    src = str(tmp_path / "csrc")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i, t in [(10, "good prose text"), (11, "buy spam now")]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    stream = spark.readStream.schema("doc_id LONG, text STRING").json(src)
    q = (
        classifier_gate(stream, wq)
        .writeStream.format("memory")
        .queryName("cgate_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM cgate_out").collect()
    assert [r["doc_id"] for r in rows] == [10]
    # bit-exact batch parity
    batch = (
        classifier_scores_inline(
            spark.createDataFrame([(10, "good prose text")], ["doc_id", "text"]),
            fit_nb_weights(pos, neg, num_buckets=64),
        )
        .first()
    )
    assert rows[0]["logit"] == batch["logit"]


def test_stream_cluster_tagging_matches_batch(spark, tmp_path):
    import json
    import os

    from bi_utils_spark.operators.clustering import kmeans_assign, kmeans_fit
    from bi_utils_spark.streaming.classify import attach_cluster

    # seeds are the k smallest ids — put one in each group so Lloyd's
    # converges to the true split rather than a mirror-skew optimum
    train = spark.createDataFrame(
        [(1, [0.0, 0.1]), (2, [9.9, 10.0]), (3, [0.1, 0.0]), (4, [10.0, 9.9])],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_fit(train, k=2, iters=2)

    src = str(tmp_path / "vsrc")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i, v in [(10, [0.05, 0.05]), (11, [9.95, 9.95])]:
            f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<FLOAT>"
    ).json(src)
    q = (
        attach_cluster(stream, cents)
        .writeStream.format("memory")
        .queryName("ctag_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["vec_id"]: r["cluster"] for r in
            spark.sql("SELECT * FROM ctag_out").collect()}
    batch = spark.createDataFrame(
        [(10, [0.05, 0.05]), (11, [9.95, 9.95])],
        "vec_id long, embedding array<float>",
    )
    expected = {r["vec_id"]: r["cluster"] for r in
                kmeans_assign(batch, cents).collect()}
    assert rows == expected and rows[10] != rows[11]


def test_stream_near_dedup_embeddings(spark, tmp_path):
    import json
    import os

    from bi_utils_spark.streaming.classify import near_dedup_stream_embeddings

    base = [0.1 * (d % 7) - 0.3 for d in range(16)]
    jitter = [x + 1e-6 for x in base]       # re-encode: signature-equal
    other = [-x for x in base]              # genuinely different
    src = str(tmp_path / "esrc")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i, v in [(1, base), (2, jitter), (3, other)]:
            f.write(json.dumps(
                {"vec_id": i, "embedding": v,
                 "ts": f"2026-01-01 00:0{i}:00"}) + "\n")

    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<FLOAT>, ts TIMESTAMP"
    ).json(src)
    q = (
        near_dedup_stream_embeddings(stream, "ts")
        .writeStream.format("memory")
        .queryName("edup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    kept = sorted(r["vec_id"] for r in spark.sql("SELECT * FROM edup_out").collect())
    # jitter re-delivery collapses onto the first arrival; the
    # different vector survives
    assert kept == [1, 3]


# ---------------------------------------------------------------------------
# X71: stream-stream interval join (streaming/joins.py)
# ---------------------------------------------------------------------------


def test_attribute_events_batch_semantics(spark):
    from bi_utils_spark.streaming.joins import attribute_events

    import datetime as _dt

    def _t(h, m):
        return _dt.datetime(2024, 1, 1, h, m)

    clicks = spark.createDataFrame(
        [
            (1, _t(10, 0), "ad_a"),
            (1, _t(10, 20), "ad_b"),
            (1, _t(8, 0), "stale"),    # outside window
            (2, _t(10, 30), "ad_c"),   # after the purchase
        ],
        "user_id long, ts timestamp, campaign string",
    )
    purchases = spark.createDataFrame(
        [
            (1, _t(10, 30), 99.0),
            (2, _t(10, 15), 5.0),
            (3, _t(12, 0), 7.0),       # no clicks at all
        ],
        "user_id long, ts timestamp, amount double",
    )
    got = attribute_events(
        clicks, purchases, window_sec=3600
    ).collect()
    rows = {(r["user_id"], r["campaign_earlier"], r["lag_sec"]) for r in got}
    assert rows == {(1, "ad_a", 1800), (1, "ad_b", 600)}
    outer = attribute_events(
        clicks, purchases, window_sec=3600, how="left_outer"
    ).collect()
    by_user = {}
    for r in outer:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert by_user[2][0]["campaign_earlier"] is None  # unattributed
    assert by_user[3][0]["campaign_earlier"] is None


def test_attribute_events_stream_stream(spark, tmp_path):
    import json as _json
    import pytest as _pytest

    from bi_utils_spark.streaming.joins import attribute_events

    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    cdir.mkdir(); pdir.mkdir()
    (cdir / "b0.json").write_text(
        "\n".join(
            _json.dumps(x)
            for x in [
                {"user_id": 1, "ts": "2024-01-01T10:00:00.000Z"},
                {"user_id": 2, "ts": "2024-01-01T10:05:00.000Z"},
            ]
        )
    )
    (pdir / "b0.json").write_text(
        _json.dumps({"user_id": 1, "ts": "2024-01-01T10:20:00.000Z"})
    )
    clicks = spark.readStream.schema("user_id long, ts timestamp").json(
        str(cdir)
    )
    purchases = spark.readStream.schema(
        "user_id long, ts timestamp"
    ).json(str(pdir))
    out = attribute_events(clicks, purchases, window_sec=3600)
    q = (
        out.writeStream.format("memory")
        .queryName("attr_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM attr_t").collect()
    assert len(got) == 1
    assert got[0]["user_id"] == 1 and got[0]["lag_sec"] == 1200

    with _pytest.raises(ValueError):
        attribute_events(clicks, purchases, how="full")


def test_cdc_stream_folds_and_tombstones(spark, tmp_path):
    from bi_utils_spark.streaming.cdc import apply_cdc_stream

    src = tmp_path / "cdc"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        '{"k": 1, "ord": 1, "op": "I", "v": "a1"}\n'
        '{"k": 1, "ord": 2, "op": "U", "v": "a2"}\n'
        '{"k": 2, "ord": 1, "op": "I", "v": "b1"}\n'
        '{"k": 2, "ord": 3, "op": "D", "v": null}\n'
    )
    stream = spark.readStream.schema(
        "k long, ord long, op string, v string"
    ).json(str(src))
    out = apply_cdc_stream(stream, ["k"], ["v"], "ord", "op")
    run_stream_to_memory(out, "cdc_out")
    got = {
        r["k"]: (r["v"], r["ord"], r["is_deleted"])
        for r in spark.sql("SELECT * FROM cdc_out").collect()
    }
    assert got[1] == ("a2", 2, False)
    assert got[2] == (None, 3, True)  # tombstone, not silence


def test_cdc_stream_batch_parity_across_microbatches(spark, tmp_path):
    """Stream-fold of the log in two micro-batches == batch apply_cdc
    over the whole log (late old changes cannot regress state)."""
    from bi_utils_spark.operators.cdc import apply_cdc
    from bi_utils_spark.streaming.cdc import apply_cdc_stream

    src = tmp_path / "cdc2"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        '{"k": 1, "ord": 5, "op": "U", "v": "new"}\n'
    )
    stream = spark.readStream.schema(
        "k long, ord long, op string, v string"
    ).json(str(src))
    out = apply_cdc_stream(stream, ["k"], ["v"], "ord", "op")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("cdc_par")
        .start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch: an OLDER change arrives late
        (src / "b1.jsonl").write_text(
            '{"k": 1, "ord": 3, "op": "U", "v": "stale"}\n'
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM cdc_par ORDER BY ord DESC"
    ).collect()
    # newest emitted state for key 1 is still ord 5 / "new"
    assert (rows[0]["v"], rows[0]["ord"]) == ("new", 5)

    log = spark.createDataFrame(
        [(1, 5, "U", "new"), (1, 3, "U", "stale")],
        ["k", "ord", "op", "v"],
    )
    batch = apply_cdc(log, ["k"], ["v"]).collect()[0]
    assert (batch["v"], batch["ord"]) == ("new", 5)


def test_scd2_maintain_stream_parity(spark, tmp_path):
    """Streaming SCD2 maintenance: a change log fed as three file
    micro-batches lands on the same table as one scd2_from_history
    over the whole log; closed directories accumulate append-only."""
    import datetime as dt
    import json

    from bi_utils_spark.operators.scd import scd2_from_history
    from bi_utils_spark.streaming.scd import (
        read_scd2_table,
        scd2_maintain_stream,
    )

    src = tmp_path / "changes"
    src.mkdir()
    table = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def iso(day, hour=0):
        return f"2024-01-{day:02d}T{hour:02d}:00:00.000Z"

    batches = [
        # b0: two keys appear
        [{"k": 1, "ts": iso(1), "attr": "A"},
         {"k": 2, "ts": iso(1), "attr": "X"}],
        # b1: key 1 changes twice inside one batch, key 3 appears
        [{"k": 1, "ts": iso(2), "attr": "B"},
         {"k": 1, "ts": iso(3), "attr": "C"},
         {"k": 3, "ts": iso(2), "attr": "P"}],
        # b2: no-op redelivery for key 1, real change for key 2
        [{"k": 1, "ts": iso(4), "attr": "C"},
         {"k": 2, "ts": iso(4), "attr": "Y"}],
    ]
    stream = spark.readStream.schema("k long, ts timestamp, attr string").json(
        str(src)
    )
    q = scd2_maintain_stream(
        stream, ["k"], ["attr"], "ts", table, ckpt,
        query_name="scd2_maintain_test",
    )
    try:
        for i, batch in enumerate(batches):
            (src / f"b{i}.jsonl").write_text(
                "\n".join(json.dumps(r) for r in batch)
            )
            q.processAllAvailable()
    finally:
        q.stop()

    got = read_scd2_table(spark, table)
    log = spark.createDataFrame(
        [
            (r["k"], dt.datetime.fromisoformat(r["ts"][:-1]), r["attr"])
            for b in batches
            for r in b
        ],
        "k long, ts timestamp, attr string",
    )
    want = scd2_from_history(log, ["k"], ["attr"], "ts")
    cols = ["k", "attr", "valid_from", "valid_to", "is_current"]
    as_t = lambda df: sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
        key=repr,
    )
    assert as_t(got) == as_t(want)
    # exactly one current row per live key; closed rows append-only
    assert got.where("is_current").count() == 3
    assert got.count() == want.count()
