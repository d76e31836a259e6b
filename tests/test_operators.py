"""Dedup/similarity operator semantics on small controlled tables."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark pipelines and shuffles"),
        (5, "  The   quick brown fox jumps over the lazy dog  "),  # ws/case dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_duplicates(spark, docs):
    from docling_parse_spark.operators.dedup import exact_duplicates

    out = {r["keep_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert out[1] == 3  # 1, 2, 5 share a normalized fingerprint
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_pairs(spark, docs):
    from docling_parse_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, k=8, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    from docling_parse_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs, k=8, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs


def test_simhash_near_dups(spark, docs):
    from docling_parse_spark.operators.dedup import simhash_pairs

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] <= 16
    assert (1, 4) not in pairs or pairs[(1, 4)] > 16


def test_cosine_and_brute_force_topk(spark):
    from docling_parse_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)
    out = brute_force_topk(emb, q, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(1, 1), (2, 2)]


def test_lsh_topk_recall(spark):
    """LSH neighbors ⊆ brute-force candidates; the true top-1 is found for
    most queries on clustered data."""
    import math
    import random

    from docling_parse_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = random.Random(7)
    rows = []
    for i in range(120):
        center = [1.0, 0, 0] if i % 3 == 0 else ([0, 1.0, 0] if i % 3 == 1 else [0, 0, 1.0])
        rows.append((i, [c + rng.gauss(0, 0.15) for c in center]))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 6)
    exact = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in brute_force_topk(emb, queries, k=1).collect()}
    approx = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in lsh_topk(emb, queries, k=1, n_planes=8, bands=4, dim=3).collect()}
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= math.ceil(len(exact) * 0.5)


def test_winnowing_fingerprint_robust_to_small_edit(spark):
    from docling_parse_spark.functions.text import winnowing_fingerprint

    base = " ".join(f"word{i}" for i in range(40))
    edited = base.replace("word20", "tweaked")
    df = spark.createDataFrame([(1, base), (2, edited)], "id int, text string")
    fps = {r["id"]: set(r["fp"]) for r in df.select("id", winnowing_fingerprint("text").alias("fp")).collect()}
    overlap = len(fps[1] & fps[2]) / len(fps[1] | fps[2])
    assert overlap >= 0.4  # most fingerprints survive a one-word edit


def test_langid(spark):
    from docling_parse_spark.functions.text import langid

    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der Hund ist nicht in der Küche und das ist gut"),
        (3, "le chat est dans la maison et il est content"),
        (4, "el perro es un animal y la casa es grande"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r["pred"] for r in df.select("id", langid(F.col("text")).alias("pred")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_ivf_topk_clustered(spark):
    """IVF-Flat on well-separated clusters: probing 2 of 8 cells finds the
    exact top-k (cells align with cosine neighborhoods on normalized data)."""
    import random

    from docling_parse_spark.operators.similarity import brute_force_topk, ivf_train, ivf_topk

    rng = random.Random(7)
    rows = []
    # 8 well-separated cluster centers on the unit sphere, 40 points each
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    vid = 0
    for c in centers:
        n = sum(x * x for x in c) ** 0.5
        c = [x / n for x in c]
        for _ in range(40):
            rows.append((vid, [x + rng.gauss(0, 0.02) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = emb.filter(emb.vec_id.isin(0, 40, 80, 120))
    bf = sorted(map(tuple, brute_force_topk(emb, q, k=3).collect()))
    cents = ivf_train(emb, n_cells=8, dim=16, seed=5)
    ivf = sorted(map(tuple, ivf_topk(emb, q, cents, k=3, nprobe=2).collect()))
    assert bf == ivf


def test_ivf_full_probe_equals_brute(spark):
    """nprobe == n_cells degenerates to exact search — gates the assignment/
    probe/join/rank machinery independently of data clusterability."""
    from pyspark.sql import functions as F

    from docling_parse_spark.operators.similarity import brute_force_topk, ivf_train, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    bf = sorted(map(tuple, brute_force_topk(emb, q, k=5).collect()))
    cents = ivf_train(emb, n_cells=8, dim=64)
    ivf = sorted(map(tuple, ivf_topk(emb, q, cents, k=5, nprobe=8).collect()))
    assert bf == ivf


def test_asof_join_semantics(spark):
    """Backward as-of: at-or-before match, per-key isolation, NULL when no
    earlier right row, tolerance drops stale matches."""
    from docling_parse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "v", 100), (4, "w", 50)],
        "event_id int, user string, ts long",
    ).select("event_id", "user", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 200, 2.0), ("v", 90, 3.0)],
        "user string, ts long, value double",
    ).select("user", F.col("ts").cast("timestamp").alias("ts"), "value")
    out = {r["event_id"]: r["asof_value"]
           for r in asof_join(left, right, on="ts", by="user", value_cols=["value"]).collect()}
    assert out == {1: 1.0, 2: 2.0, 3: 3.0, 4: None}  # 1: equal-ts match
    tol = {r["event_id"]: r["asof_value"]
           for r in asof_join(left, right, on="ts", by="user",
                              value_cols=["value"], tolerance_sec=5).collect()}
    assert tol == {1: 1.0, 2: 2.0, 3: None, 4: None}  # v's match is 10s stale


def test_asof_join_null_value_carry(spark):
    """A legitimately-NULL right value is carried (not skipped for an older
    non-null one), and its own timestamp gates the tolerance (ADVICE r02)."""
    import pytest

    from docling_parse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 300)], "event_id int, user string, ts long"
    ).select("event_id", "user", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 299, None)], "user string, ts long, value double"
    ).select("user", F.col("ts").cast("timestamp").alias("ts"), "value")
    out = asof_join(left, right, on="ts", by="user", value_cols=["value"]).collect()
    assert out[0]["asof_value"] is None  # latest right row's NULL, not 1.0
    # tolerance keyed on the SAME row: the ts=299 row is in tolerance, and its
    # value is NULL — not the stale-but-non-null ts=100 row's 1.0
    tol = asof_join(left, right, on="ts", by="user", value_cols=["value"],
                    tolerance_sec=5).collect()
    assert tol[0]["asof_value"] is None
    # left-side column collisions are refused, not silently wrong
    bad = left.withColumn("value", F.lit(9.0))
    with pytest.raises(ValueError, match="value"):
        asof_join(bad, right, on="ts", by="user", value_cols=["value"])


def test_sample_stratified_deterministic(spark):
    """Same input -> same surviving rows regardless of partitioning; unlisted
    strata whole; fraction 1.0 keeps everything; 0.0 drops the stratum."""
    from docling_parse_spark.operators.curation import sample_stratified

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(300)], "doc_id long, lang string"
    )
    out1 = {r["doc_id"] for r in sample_stratified(docs, "lang", {"en": 0.25}).collect()}
    out2 = {r["doc_id"] for r in sample_stratified(docs.repartition(7), "lang", {"en": 0.25}).collect()}
    assert out1 == out2
    de_ids = {i for i in range(300) if i % 3 == 0}
    assert de_ids <= out1  # unlisted stratum kept whole
    en_kept = len(out1 - de_ids)
    assert 20 <= en_kept <= 80  # ~25% of 200
    assert sample_stratified(docs, "lang", {"en": 1.0}).count() == 300
    assert {r["doc_id"] for r in sample_stratified(docs, "lang", {"en": 0.0}).collect()} == de_ids
    # salt varies the sample
    out3 = {r["doc_id"] for r in sample_stratified(docs, "lang", {"en": 0.25}, salt="x").collect()}
    assert out3 != out1


def test_pack_training_shards(spark):
    from docling_parse_spark.operators.curation import pack_training_shards

    docs = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 300), (4, 700), (5, 50)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r["shard_id"] for r in pack_training_shards(docs, budget=256).collect()}
    # cumsum-before: 0,100,200,500,1200 -> shards 0,0,0,1,4
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 4}


def test_decontaminate(spark):
    from docling_parse_spark.operators.curation import decontaminate

    train = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight"),
         (11, "a completely unrelated training document about spark"),
         (12, "contains the quick brown fox jumps over the lazy dog verbatim")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(1, "eval: the quick brown fox jumps over the lazy dog here")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in decontaminate(train, eval_docs, k=24).collect()}
    assert kept == {11}


def test_sample_stratified_null_stratum_kept(spark):
    from docling_parse_spark.operators.curation import sample_stratified

    docs = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "en"), (4, None)], "doc_id long, lang string"
    )
    kept = {r["doc_id"] for r in sample_stratified(docs, "lang", {"en": 0.0}).collect()}
    assert kept == {2, 4}  # NULL stratum is unlisted -> kept whole


def test_repetition_stats(spark):
    from docling_parse_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "aaa\nbbb\naaa\n\n aaa "),      # 4 nonempty lines, 2 distinct
         (2, "x y x x"),                       # top word 3/4
         (3, "   "),                           # no tokens, no lines
         (4, "unique lines\nonly here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["dup_line_frac"], r["top_word_frac"])
           for r in repetition_stats(docs).collect()}
    assert out[1][0] == 0.5            # 1 - 2/4
    assert out[2] == (0.0, 0.75)
    assert out[3] == (0.0, 0.0)
    assert out[4][0] == 0.0


def test_pack_training_shards_bucketed(spark):
    """Per-bucket packing: each bucket packs independently (the 100 TB
    composition), matching the global result computed per slice."""
    from docling_parse_spark.operators.curation import pack_training_shards

    docs = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 200), (3, "b", 300), (4, "b", 50)],
        "doc_id long, bucket string, n_tokens long",
    )
    out = {(r["bucket"], r["doc_id"]): r["shard_id"]
           for r in pack_training_shards(docs, budget=256, by="bucket").collect()}
    assert out == {("a", 1): 0, ("a", 2): 0, ("b", 3): 0, ("b", 4): 1}


def test_pii_counts_and_redaction(spark):
    from docling_parse_spark.functions.pii import redact_pii, with_pii_counts

    docs = spark.createDataFrame(
        [(1, "mail a.b+c@sub.example.org or bob@x.io now"),
         (2, "call 555-123-4567 ip 192.168.0.1 ssn 123-45-6789"),
         (3, "card 4111-1111-1111-1111 plain text"),
         (4, "no pii at all"),
         (5, "dotted phone 555.123.4567 end"),
         (6, "reach 555-123-4567@corp.example.com ok")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in with_pii_counts(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_pii"]) == (2, 2)
    assert (out[2]["n_phone"], out[2]["n_ipv4"], out[2]["n_ssn"]) == (1, 1, 1)
    assert (out[3]["n_ccn"], out[3]["n_pii"]) == (1, 1)
    assert out[4]["n_pii"] == 0
    assert out[5]["n_phone"] == 1
    # sequential counting: a phone inside an email counts ONCE, as the email
    assert (out[6]["n_email"], out[6]["n_phone"], out[6]["n_pii"]) == (1, 0, 1)
    red = {r["doc_id"]: r["red"]
           for r in docs.select("doc_id", redact_pii(F.col("text")).alias("red")).collect()}
    assert red[1] == "mail [EMAIL] or [EMAIL] now"
    assert red[2] == "call [PHONE] ip [IPV4] ssn [SSN]"
    assert red[3] == "card [CCN] plain text"
    assert red[4] == "no pii at all"


def test_cap_per_group(spark):
    from docling_parse_spark.operators.curation import cap_per_group

    rows = [(i, "hot") for i in range(100)] + [(200, "cold"), (201, "cold")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_group(docs, "source", 10).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(by_src["hot"]) == list(range(10))  # first 10 by doc_id
    assert sorted(by_src["cold"]) == [200, 201]      # under-cap group whole
    # capped columns unchanged, no helper column leaks
    assert set(out[0].asDict()) == {"doc_id", "source"}


def test_dup_span_coverage(spark):
    """Hand-checked span coverage: overlapping dup grams union, not sum;
    docs with no tokens -> 0.0; single-doc repeats don't count."""
    from docling_parse_spark.operators.dedup import dup_span_coverage

    docs = spark.createDataFrame(
        [(1, "a b c d e"),                # shares "a b c" with 2
         (2, "x a b c y"),
         (3, "nothing shared here at all"),
         (4, "a b c a b c q"),            # overlapping dup grams
         (5, ""),                          # no tokens
         (6, "q q q q q q")],              # self-repeats only -> not dup
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in dup_span_coverage(docs, n=3).collect()}
    assert (out[1]["dup_tokens"], out[1]["dup_frac"]) == (3, 0.6)
    assert (out[2]["dup_tokens"], out[2]["dup_frac"]) == (3, 0.6)
    assert out[3]["dup_frac"] == 0.0
    # d4's cross-doc dup gram "a b c" sits at pos 0 AND 3 -> covers 0..5
    assert (out[4]["n_tokens"], out[4]["dup_tokens"]) == (7, 6)
    assert out[4]["dup_frac"] == round(6 / 7, 6)
    assert (out[5]["n_tokens"], out[5]["dup_frac"]) == (0, 0.0)
    assert out[6]["dup_tokens"] == 0


def test_corpus_stats(spark):
    from docling_parse_spark.functions.stats import corpus_stats

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 30), ("a", 40), ("b", 5)],
        "source string, n_chars long",
    )
    out = {r["source"]: r.asDict() for r in corpus_stats(df).collect()}
    assert (out["a"]["n"], out["a"]["min"], out["a"]["max"]) == (4, 10, 40)
    assert out["a"]["mean"] == 25.0
    assert out["a"]["p50"] == 25.0     # interpolated between 20 and 30
    assert out["a"]["p90"] == 37.0     # 0.9 * (4-1) = 2.7 -> 30 + 0.7*10
    assert out["b"]["p50"] == 5.0


def test_tfidf_top_terms(spark):
    """Hand-checked tf-idf: 'spark' only in group a's docs (idf ln(3/2)),
    'the' in all docs (idf 0 -> never ranks above a positive score)."""
    import math

    from docling_parse_spark.functions.stats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a", "the spark engine the spark"),
         (2, "a", "the spark shuffle"),
         (3, "b", "the window")],
        "doc_id long, source string, text string",
    )
    out = {(r["source"], r["rank"]): (r["term"], r["score"])
           for r in tfidf_top_terms(docs, k=2).collect()}
    assert out[("a", 1)] == ("spark", round(3 * math.log(3 / 2), 6))
    # 'engine'/'shuffle' each tf=1, idf=ln(3/1) > spark's 3*ln(1.5)? no:
    # 3*0.405=1.216 > 1.099 -> rank2 is the ln(3) singleton, tie term asc
    assert out[("a", 2)] == ("engine", round(math.log(3.0), 6))
    assert out[("b", 1)] == ("window", round(math.log(3.0), 6))


def test_cap_per_group_refuses_rn_collision(spark):
    from docling_parse_spark.operators.curation import cap_per_group

    df = spark.createDataFrame([(1, "a", 0)], "doc_id long, source string, __rn int")
    with pytest.raises(ValueError, match="__rn"):
        cap_per_group(df, "source", 5)


def test_dup_span_coverage_partition_invariant(spark):
    """Same result at any partitioning (a distributed dedup signal must be
    deterministic under retries/repartition)."""
    from docling_parse_spark.operators.dedup import dup_span_coverage

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 3 + "a b c d e f g h shared tail here") for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dup_span_coverage(docs, n=8).collect()))
    b = sorted(map(tuple, dup_span_coverage(docs.repartition(7), n=8).collect()))
    assert a == b and len(a) == 40


def test_charlm_perplexity_hand_checked(spark):
    """Degenerate LM where perplexity is computable by hand: LM corpus
    'aaaa' -> tri {aaa:2}, ctx {aa:2}, V=1. A doc of only 'aaa' grams has
    p=1 (ppl 1.0); an unseen gram with seen context has p=1/3 (ppl 3.0);
    sub-trigram docs get NULL ppl and 0 grams."""
    from docling_parse_spark.functions.lm import charlm_perplexity

    lm = spark.createDataFrame([(0, "aaaa")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "aax")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["n_grams"], r["ppl"])
           for r in charlm_perplexity(docs, lm_docs=lm).collect()}
    assert out[1] == (2, 1.0)
    assert out[2] == (0, None)
    assert out[3] == (1, 3.0)


def test_fix_mojibake(spark):
    """UTF-8-read-as-latin-1 repair: mojibake fixed, clean/latin/CJK and
    mixed (unencodable) text untouched."""
    from docling_parse_spark.functions.text import fix_mojibake

    docs = spark.createDataFrame(
        [(1, "cafÃ© crÃ¨me"),   # mojibake of café crème
         (2, "clean café text"),
         (3, "äöü plain umlauts"),
         (4, "中文 text"),
         (5, "mixed Ã© and 中文")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["f"]
           for r in docs.select("doc_id", fix_mojibake(F.col("text")).alias("f")).collect()}
    assert out[1] == "café crème"
    assert out[2] == "clean café text"
    assert out[3] == "äöü plain umlauts"
    assert out[4] == "中文 text"
    assert out[5] == "mixed Ã© and 中文"  # unrepairable -> untouched
    more = spark.createDataFrame(
        [(6, "donâ€™t â€” itâ€™s fixed"),   # UTF-8-as-cp1252 (the € class)
         (7, "legit dash – and ’quote’")],  # real cp1252 symbols, no markers
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r["f"]
            for r in more.select("doc_id", fix_mojibake(F.col("text")).alias("f")).collect()}
    assert out2[6] == "don\u2019t \u2014 it\u2019s fixed"
    assert out2[7] == "legit dash – and ’quote’"


def test_pack_training_shards_distributed_prefix_sum(spark):
    """VERDICT r03 #3: the default (global) packing path must not build a
    single-partition global window. The two-pass prefix sum must (a) match
    the sequential cumsum exactly, (b) be invariant to the range-partition
    count, and (c) show no empty-partitionBy window over the corpus in the
    physical plan."""
    import random

    from docling_parse_spark.operators.curation import pack_training_shards

    rng = random.Random(7)
    rows = [(i, rng.randint(1, 900)) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(13)

    cum = 0
    expected = {}
    for i, tok in rows:  # sequential oracle: cumsum-before // budget
        expected[i] = cum // 256
        cum += tok

    for p in (1, 3, 16):
        out = {
            r["doc_id"]: r["shard_id"]
            for r in pack_training_shards(
                docs, budget=256, num_range_partitions=p
            ).collect()
        }
        assert out == expected, f"mismatch at num_range_partitions={p}"

    plan = pack_training_shards(docs, budget=256)._jdf.queryExecution().executedPlan().toString()
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, "expected window nodes in the packing plan"
    for ln in specs:
        spec = ln.split("windowspecdefinition(", 1)[1]
        # every corpus-sized window must be partitioned by __pid; the only
        # window without it is the offsets cumsum over the tiny (<= p row)
        # per-partition totals table, recognizable by its __k0 order key
        assert "__pid" in spec or "__k0" in spec, ln


def test_dedup_clusters_one_job_per_round_and_reliable_mode(spark, tmp_path):
    """VERDICT r03 #4: convergence must not cost a second job per round
    (the changed-count rides the checkpoint-materializing action), and
    reliable checkpointing must be available for cluster runs."""
    import pytest

    from docling_parse_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert out == expected

    # reliable mode refuses to run without a checkpoint dir...
    with pytest.raises(ValueError, match="checkpoint directory"):
        dedup_clusters(pairs, reliable=True)
    # ...and produces identical clusters with one
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    out_r = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, reliable=True).collect()
    }
    assert out_r == expected


def test_ngram_jaccard_stop_shingle_guard(spark):
    """VERDICT r03 #7: a shingle shared by every doc must not explode the
    self-join. With the guard, the hot shingle is dropped from both the
    intersection and the sizes (Jaccard over the residual universe);
    documents similar ONLY through the hot shingle produce no pair."""
    from docling_parse_spark.operators.dedup import char_shingles, ngram_jaccard_pairs

    import hashlib

    hot = "ZZZZZZZZ"  # one 8-gram present in every doc
    # filler starts with a doc-unique 2-char index followed by md5 hex;
    # boundary shingles ("ZZZZZZ 0".."ZZZZZZ 5") are shared by up to 10
    # docs, so max_df=5 drops them along with the hot shingle — leaving
    # no cross-doc 8-gram among the generic docs
    rows = [(i, f"{hot} {i:02d}{hashlib.md5(str(i).encode()).hexdigest()}")
            for i in range(60)]
    # plus one true near-dup pair sharing much more than the hot shingle
    rows += [(100, hot + " the quick brown fox jumps over the lazy dog"),
             (101, hot + " the quick brown fox jumps over the lazy cat")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    guarded = ngram_jaccard_pairs(docs, k=8, threshold=0.3, max_df=5)
    pairs = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    assert (100, 101) in pairs
    # the 60 generic docs intersect only via stop shingles -> no pairs
    assert all(a >= 100 for a, _ in pairs), pairs

    # pair count is bounded: unguarded, the hot shingle alone welds all
    # 62 docs into 62*61/2 pairs; guarded, only the true near-dup remains
    n_unguarded = ngram_jaccard_pairs(docs, k=8, threshold=0.0, max_df=None).count()
    n_guarded = ngram_jaccard_pairs(docs, k=8, threshold=0.0, max_df=5).count()
    assert n_unguarded == 62 * 61 // 2  # every doc pairs with every other
    assert n_guarded == 1  # just (100, 101)


def test_asof_join_null_timestamp_and_key_right_rows(spark):
    """Round-4 review: right rows with NULL timestamps sorted NULLS FIRST
    and were carried into every left row; NULL by-keys grouped together.
    ASOF semantics (and DuckDB's native ASOF JOIN) require NULL instead."""
    from docling_parse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, None, 100)], "event_id int, user string, ts long"
    ).select("event_id", "user", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", None, 9.0), (None, 50, 7.0), ("u", 40, 1.5)],
        "user string, ts long, value double",
    ).select("user", F.col("ts").cast("timestamp").alias("ts"), "value")
    out = {r["event_id"]: r["asof_value"]
           for r in asof_join(left, right, on="ts", by="user",
                              value_cols=["value"]).collect()}
    # event 1: the NULL-ts right row must NOT win; the real t=40 row does.
    # event 2: NULL key matches nothing.
    assert out == {1: 1.5, 2: None}


def test_sessionizer_late_event_across_batches():
    """Round-4 review: an out-of-order event in a later micro-batch moved
    the session clock backwards, creating phantom gaps and sessions with
    end < start."""
    import pandas as pd

    from docling_parse_spark.streaming.stateful import make_sessionizer

    class FakeState:
        def __init__(self):
            self._v = None
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v

    fn = make_sessionizer(gap_sec=1800.0)
    st = FakeState()
    # batch 1: one event at t=1000
    list(fn(("u",), iter([pd.DataFrame({"epoch": [1000.0]})]), st))
    # batch 2: a LATE event at t=100 (inside the gap looking backwards)
    list(fn(("u",), iter([pd.DataFrame({"epoch": [100.0]})]), st))
    assert st.get == (100.0, 1000.0, 2)  # start extended back, clock NOT rewound
    # batch 3: t=2000 — within gap of last=1000, must NOT close a session
    closed = list(fn(("u",), iter([pd.DataFrame({"epoch": [2000.0]})]), st))
    assert closed == []
    assert st.get == (100.0, 2000.0, 3)


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """A chain longer than max_iter hops must raise, not silently return
    inconsistent labels (round-4 review)."""
    import pytest

    from docling_parse_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    ok = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(chain).collect()}
    assert set(ok.values()) == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=3)


def test_lsh_topk_rejects_degenerate_band_split(spark):
    import pytest

    from docling_parse_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="multiple"):
        lsh_topk(emb, emb, n_planes=16, bands=20, dim=2)
    with pytest.raises(ValueError, match="multiple"):
        lsh_topk(emb, emb, n_planes=16, bands=5, dim=2)


def test_quantize_embeddings_roundtrip_and_topk(spark):
    """int8 scalar quantization: 8x smaller vectors, ranking preserved on
    separated data, exact integer dot products, scale carried per row."""
    import math
    import random

    from docling_parse_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_quantized,
        dequantize,
        quantize_embeddings,
    )

    rng = random.Random(11)
    rows = []
    for i in range(60):
        center = [1.0, 0, 0] if i % 3 == 0 else ([0, 1.0, 0] if i % 3 == 1 else [0, 0, 1.0])
        rows.append((i, [c + rng.gauss(0, 0.05) for c in center]))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    q = quantize_embeddings(emb)
    out = {r["vec_id"]: r for r in q.collect()}
    scale = out[0]["scale"]
    assert all(r["scale"] == scale for r in out.values())  # global scale
    assert all(-127 <= v <= 127 for r in out.values() for v in r["qvec"])
    # dequantized values within one quantization step of the originals
    deq = {r["vec_id"]: r["v"] for r in
           q.select("vec_id", dequantize(F.col("qvec"), F.col("scale")).alias("v")).collect()}
    step = scale / 127.0
    for i, vec in rows:
        assert all(abs(a - b) <= step for a, b in zip(deq[i], vec))

    # quantized exact top-k matches float top-k on separated clusters
    queries = emb.filter(F.col("vec_id") < 5)
    fl = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(emb, queries, k=3).collect()}
    qt = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk_quantized(q, q.filter(F.col("vec_id") < 5), k=3).collect()}
    agree = sum(1 for kk in fl if qt.get(kk) == fl[kk])
    assert agree >= math.ceil(len(fl) * 0.8)

    # explicit scale + validation
    import pytest

    q2 = quantize_embeddings(emb, scale=2.0)
    assert q2.select("scale").first()["scale"] == 2.0
    with pytest.raises(ValueError):
        quantize_embeddings(emb, scale=0.0)


def test_quantized_topk_null_and_ragged_rows(spark):
    """A null or ragged quantized vector scores NaN instead of killing the
    int_cos task. The NaN crosses the Arrow boundary as a null score, which
    ranks after every real one; the other pairs in the same batch keep their
    exact scores."""
    from docling_parse_spark.operators.similarity import brute_force_topk_quantized

    rows = [(0, [3, 4, 0]), (1, [4, 3, 0]), (2, [0, 0, 5]), (3, None), (4, [1, 2])]
    q = spark.createDataFrame(rows, "vec_id int, qvec array<tinyint>")

    def scores(df):
        out = brute_force_topk_quantized(df, df.filter(F.col("vec_id") < 2), k=5)
        rows = out.collect()
        for r in rows:  # null scores rank last
            assert (r["cos"] is None) == (r["rank"] > 2)
        return {(r["query_id"], r["neighbor_id"]): r["cos"] for r in rows}

    got = scores(q)
    assert set(got) == {(a, b) for a in (0, 1) for b in range(5) if a != b}
    assert all(got[(a, b)] is None for a in (0, 1) for b in (3, 4))
    clean = scores(q.filter(F.col("vec_id") < 3))
    assert clean == {(0, 1): 0.96, (0, 2): 0.0, (1, 0): 0.96, (1, 2): 0.0}
    assert {k: v for k, v in got.items() if k[1] < 3} == clean


def test_banded_pair_dedup_at_join_time(spark, docs):
    """r07: both banded generators collapse multi-band collisions at join
    time (first-matching-band predicate) instead of a dropDuplicates
    shuffle. Pin: exactly one output row per pair, and the full row set
    equals an independent all-pairs Python reference built from the same
    signatures (any-band-equal candidacy + est/hamming recomputed)."""
    from pyspark.sql import functions as F

    from docling_parse_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        simhash_pairs,
        simhash_signatures,
    )

    # docs 1/2 identical and 5 a ws/case twin -> they collide in EVERY
    # band, the exact multi-band case the old dropDuplicates collapsed
    out = minhash_lsh_pairs(docs, k=8, threshold=0.0).collect()
    keys = [(r["id_a"], r["id_b"]) for r in out]
    assert len(keys) == len(set(keys)), "duplicate candidate rows emitted"
    assert {(1, 2)} <= set(keys)

    sigs = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(docs, k=8).collect()}
    # The reference compares raw band values, while minhash_lsh_pairs joins on
    # xxhash64(band) buckets: equal only while no two distinct bands share a
    # 64-bit bucket, which holds at this corpus size (a handful of docs x 4
    # bands) but is not a property the reference checks.
    expected = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sigs[a], sigs[b]
            if any(sa[4 * bb : 4 * bb + 4] == sb[4 * bb : 4 * bb + 4] for bb in range(4)):
                expected[(a, b)] = round(sum(x == y for x, y in zip(sa, sb)) / 16.0, 6)
    assert {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out} == expected

    out = simhash_pairs(docs).collect()
    keys = [(r["id_a"], r["id_b"]) for r in out]
    assert len(keys) == len(set(keys)), "duplicate candidate rows emitted"
    ssigs = {r["doc_id"]: r["sig"] & ((1 << 64) - 1) for r in simhash_signatures(docs).collect()}
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = ssigs[a], ssigs[b]
            if any((sa >> (16 * bb)) & 0xFFFF == (sb >> (16 * bb)) & 0xFFFF for bb in range(4)):
                expected[(a, b)] = bin(sa ^ sb).count("1")
    assert {(r["id_a"], r["id_b"]): r["hamming"] for r in out} == expected


def _cosine_expr(a, b):
    """The pure-JVM expression cosine (zip_with + aggregate, no UDF) that
    ``cosine_arrow`` must equal bit for bit."""
    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    dot = fold(F.zip_with(a, b, lambda x, y: x * y))
    na = F.sqrt(fold(F.transform(a, lambda x: x * x)))
    nb = F.sqrt(fold(F.transform(b, lambda x: x * x)))
    return dot / (na * nb)


@pytest.mark.parametrize("hostile_rows", [False, True], ids=["vectorized", "row_fallback"])
def test_cosine_arrow_bit_identical_to_expression(spark, hostile_rows):
    """200 random 64-dim pairs score exactly as the expression form. A null
    and a ragged row in the same batch send it down the row-by-row fallback,
    which must match too (both forms score those rows null)."""
    import random

    from docling_parse_spark.operators.dedup import cosine_arrow

    rng = random.Random(64)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)], [rng.gauss(0, 1) for _ in range(64)])
            for i in range(200)]
    if hostile_rows:
        rows += [(200, None, [1.0] * 64), (201, [1.0, 2.0], [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>").coalesce(1)
    got = df.select(
        "id",
        cosine_arrow(F.col("a"), F.col("b")).alias("fast"),
        _cosine_expr(F.col("a"), F.col("b")).alias("expr"),
    ).collect()
    assert len(got) == len(rows)
    assert all(r["fast"] == r["expr"] for r in got if r["id"] < 200)
    assert all(r["fast"] is None and r["expr"] is None for r in got if r["id"] >= 200)


@pytest.mark.parametrize("empty_row", [False, True], ids=["zero_vector", "empty_and_zero"])
def test_cosine_arrow_zero_denominator_is_null(spark, empty_row):
    """A zero or empty vector scores null instead of killing the task
    (an empty vector among 8-dim ones used to raise ZeroDivisionError in the
    row-by-row fallback); the other rows in the batch keep their scores."""
    import math
    import random

    from docling_parse_spark.operators.dedup import cosine_arrow

    rng = random.Random(8)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(20)]
    rows.append((20, [0.0] * 8, [1.0] * 8))
    if empty_row:
        rows.append((21, [], []))
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>").coalesce(1)
    got = {r["id"]: r["c"] for r in
           df.select("id", cosine_arrow(F.col("a"), F.col("b")).alias("c")).collect()}
    assert set(got) == {r[0] for r in rows}
    assert got[20] is None and got.get(21) is None
    for i, a, b in rows[:20]:
        norms = math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
        assert got[i] == pytest.approx(sum(x * y for x, y in zip(a, b)) / norms)
