"""PII scrub / chunking / sequence packing (training-data prep ops)."""

import math

from pyspark.sql import functions as F

from llm_information_extraction_spark.operators.textprep import (
    chunk_documents,
    pack_sequences,
    scrub_pii,
)


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        ("d1", "reach me at alice.smith+x@mail.example.org or bob@ex.io"),
        ("d2", "ssn 123-45-6789 server 10.0.255.7 call +1 (415) 555-0199"),
        ("d3", "plain prose with no contact details at all"),
        ("d4", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert got["d1"]["clean_text"] == "reach me at <EMAIL> or <EMAIL>"
    assert got["d1"]["n_redactions"] == 2
    assert "<ID>" in got["d2"]["clean_text"]
    assert "<IP>" in got["d2"]["clean_text"]
    assert "<PHONE>" in got["d2"]["clean_text"]
    assert got["d2"]["n_redactions"] == 3
    assert got["d3"]["clean_text"] == rows[2][1]
    assert got["d3"]["n_redactions"] == 0
    assert got["d4"]["clean_text"] == "" and got["d4"]["n_redactions"] == 0


def test_scrub_pii_literal_marker_not_counted(spark):
    """Input that already contains a literal marker token is NOT counted
    as a redaction (the count is scrubbed-markers minus input-markers);
    real PII next to a literal marker still counts."""
    rows = [
        ("m1", "the template says <EMAIL> goes here"),
        ("m2", "<PHONE> placeholder but real mail bob@ex.io too"),
    ]
    got = {
        r["doc_id"]: r
        for r in scrub_pii(
            spark.createDataFrame(rows, "doc_id string, text string")
        ).collect()
    }
    assert got["m1"]["clean_text"] == rows[0][1]  # untouched
    assert got["m1"]["n_redactions"] == 0
    assert got["m2"]["clean_text"] == "<PHONE> placeholder but real mail <EMAIL> too"
    assert got["m2"]["n_redactions"] == 1


def test_chunk_documents_windows_and_overlap(spark):
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [("a", " ".join(words)), ("b", "x y")], "doc_id string, text string"
    )
    got = chunk_documents(df, max_tokens=4, overlap=1).collect()
    a = sorted(
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in got
        if r["doc_id"] == "a"
    )
    # stride 3: [0:4), [3:7), [6:10)
    assert a == [
        (0, "w0 w1 w2 w3", 4),
        (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4),
    ]
    b = [r for r in got if r["doc_id"] == "b"]
    assert len(b) == 1 and b[0]["chunk_text"] == "x y" and b[0]["n_tokens"] == 2
    # consecutive chunks share exactly `overlap` tokens; union covers all
    assert a[0][1].split()[-1] == a[1][1].split()[0]
    covered = set()
    for _, text, _ in a:
        covered.update(text.split())
    assert covered == set(words)


def test_pack_sequences_bins_and_determinism(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = pack_sequences(docs, context_tokens=512, num_groups=8)
    rows = packed.collect()
    # python recomputation of the same contiguous packing
    import hashlib

    by_group: dict[int, list] = {}
    for r in rows:
        by_group.setdefault(r["pack_group"], []).append(r)
    for g, members in by_group.items():
        members.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in members:
            want_group = (
                int(
                    hashlib.md5(f"{r['doc_id']}pack".encode()).hexdigest()[:8],
                    16,
                )
                % 8
            )
            assert r["pack_group"] == want_group
            assert r["bin_id"] == cum // 512, (g, r)
            cum += r["n_tokens"]
    # partitioning-invariance: same assignment after a repartition
    again = {
        (r["doc_id"], r["pack_group"], r["bin_id"])
        for r in pack_sequences(
            docs.repartition(13), context_tokens=512, num_groups=8
        ).collect()
    }
    assert again == {(r["doc_id"], r["pack_group"], r["bin_id"]) for r in rows}


def test_pack_sequences_single_shuffle_by_group(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = pack_sequences(docs, context_tokens=512)
    df.collect()  # materialize so AQE finalizes the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("Exchange hashpartitioning") == 1  # the group shuffle
    assert "CartesianProduct" not in final


def test_repetition_stats_signals(spark):
    from llm_information_extraction_spark.functions.textmetrics import (
        repetition_stats,
    )

    rows = [
        ("loop", "spam " * 50),                       # degenerate repeat
        ("varied", " ".join(f"w{i}" for i in range(30))),  # all distinct
        ("short", "a b"),                             # < n words
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["s"].asDict()
        for r in df.select("doc_id", repetition_stats("text").alias("s")).collect()
    }
    # 50x the same word: 48 identical 3-grams -> dup frac 47/48, top 1.0
    assert got["loop"]["dup_ngram_frac"] == round(47 / 48, 6)
    assert got["loop"]["top_word_frac"] == 1.0
    assert got["varied"]["dup_ngram_frac"] == 0.0
    assert got["varied"]["top_word_frac"] == round(1 / 30, 6)
    assert got["short"]["dup_ngram_frac"] == 0.0
    assert got["short"]["top_word_frac"] == 0.5
    assert got["null"] == {"dup_ngram_frac": 0.0, "top_word_frac": 0.0}


def test_decontamination_13gram_rule(spark):
    from llm_information_extraction_spark.operators.textprep import (
        contaminated_ids,
        decontaminate,
    )

    leak = " ".join(f"q{i}" for i in range(13))  # a 13-gram from eval
    train = spark.createDataFrame(
        [
            ("t1", "clean prose " + " ".join(f"a{i}" for i in range(20))),
            ("t2", "prefix words " + leak + " suffix words"),  # leaked
            ("t3", " ".join(f"b{i}" for i in range(12))),  # short, clean
        ],
        "doc_id string, text string",
    )
    eval_df = spark.createDataFrame(
        [("e1", leak + " plus unrelated tail tokens here")],
        "doc_id string, text string",
    )
    bad = {r["doc_id"] for r in contaminated_ids(train, eval_df).collect()}
    assert bad == {"t2"}
    kept = {r["doc_id"] for r in decontaminate(train, eval_df).collect()}
    assert kept == {"t1", "t3"}
    # a short doc whose FULL text appears in eval is still caught
    # (partial-gram semantics)
    train2 = spark.createDataFrame(
        [("s1", " ".join(f"q{i}" for i in range(5)))],
        "doc_id string, text string",
    )
    eval2 = spark.createDataFrame(
        [("e2", " ".join(f"q{i}" for i in range(5)))],
        "doc_id string, text string",
    )
    assert {r["doc_id"] for r in contaminated_ids(train2, eval2).collect()} == {"s1"}


def test_decontamination_boilerplate_cap(spark):
    """max_gram_docs ignores template grams hit by many training docs:
    only the genuinely rare leak flags."""
    from llm_information_extraction_spark.operators.textprep import (
        contaminated_ids,
    )

    boiler = " ".join(f"t{i}" for i in range(13))  # shared template line
    leak = " ".join(f"z{i}" for i in range(13))
    train = spark.createDataFrame(
        [(f"d{i}", boiler + f" filler{i} " + " ".join(f"x{i}_{j}" for j in range(13)))
         for i in range(20)]
        + [("bad", "some prefix " + leak + " some suffix")],
        "doc_id string, text string",
    )
    eval_df = spark.createDataFrame(
        [("e1", boiler + " and separately " + leak)],
        "doc_id string, text string",
    )
    # raw rule: everything flags through the template gram
    raw = {r["doc_id"] for r in contaminated_ids(train, eval_df).collect()}
    assert len(raw) == 21
    # capped: the 20-doc template gram is ignored, only the leak flags
    capped = {
        r["doc_id"]
        for r in contaminated_ids(train, eval_df, max_gram_docs=5).collect()
    }
    assert capped == {"bad"}


def gram_keys_oracle(df, n):
    """{(doc_id, key)} — the gram-key oracle: ``word_shingles`` exploded,
    each gram keyed by its first 14 md5 hex digits as a 56-bit long,
    the key DuckDB computes for decontamination."""
    from llm_information_extraction_spark.operators.dedup import (
        word_shingles,
    )

    key = F.conv(F.substring(F.md5("g"), 1, 14), 16, 10).cast("long")
    grams = df.select("doc_id", F.explode(word_shingles("text", n)).alias("g"))
    rows = grams.select("doc_id", key.alias("k")).collect()
    return {(r["doc_id"], r["k"]) for r in rows}


def gram_keys(df, n):
    """{(doc_id, key)} from the Arrow kernel under test."""
    from llm_information_extraction_spark.operators.textprep import (
        _gram_keys_arrow,
    )

    rows = _gram_keys_arrow(df, "doc_id", "text", n).collect()
    return {(r["id"], r["k"]) for r in rows}


def test_contaminated_gram_keys_arrow_matches_expr(spark):
    """The Arrow gram-keying path must produce EXACTLY the expression
    path's (id, key) set — decontamination's oracle equality rests on
    the md5-derived keys being bit-identical."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    arrow = gram_keys(d, 13)
    assert arrow == gram_keys_oracle(d, 13) and len(arrow) > 0
