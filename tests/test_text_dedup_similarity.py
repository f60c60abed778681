import math

import pyspark.sql.functions as F
import pytest

from demv_spark.operators import dedup, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "The  quick  brown fox jumps over the lazy dog"),        # whitespace/case dup of 1
    (4, "the quick brown fox jumps over the sleepy dog"),        # near dup (1 word)
    (5, "completely different text about spark engines and scale"),
    (6, "der schnelle braune fuchs und die katze ist nicht da"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_token_count(docs):
    got = {r["doc_id"]: r["n_tokens"] for r in text.token_count(docs).collect()}
    assert got[1] == 9 and got[3] == 9  # multi-space collapses


def test_quality_score_range(docs):
    for r in text.quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0


def test_lang_id(docs):
    got = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[6] == "de"
    # no markers at all → 'und'
    assert got[5] in ("en", "und")  # 'and' is an en marker


def test_fingerprint_normalization(docs):
    got = {r["doc_id"]: r["fp"] for r in text.fingerprint(docs).collect()}
    assert got[1] == got[2] == got[3]
    assert got[1] != got[4]


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 4, 5, 6]  # 2,3 collapse into 1 (normalized)
    raw = dedup.exact_dedup(docs, normalized=False)
    assert sorted(r["doc_id"] for r in raw.collect()) == [1, 3, 4, 5, 6]


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.3 <= pairs[(1, 4)] < 1.0
    assert all(5 not in p and 6 not in p for p in pairs)


def test_minhash_lsh_finds_dups(docs):
    out = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out.collect()}
    assert pairs.get((1, 2)) == 1.0   # identical docs always collide
    assert (1, 3) in pairs            # normalized-identical too
    assert (1, 4) in pairs            # near-dup should be caught with 16 bands


def test_simhash_near_pairs(docs):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sig[1] == sig[2]  # identical text → identical signature
    out = dedup.simhash_near_pairs(docs, max_hamming=10, bands=8)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs.get((1, 2)) == 0


def test_portable_minhash_invariants(docs):
    out = dedup.minhash_signatures_portable(docs, num_hashes=16)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], {})[r["h_idx"]] = r["min_h"]
    # identical and normalized-identical docs share the exact signature
    assert by_doc[1] == by_doc[2] == by_doc[3]
    assert all(len(v) == 16 for v in by_doc.values())
    p31 = (1 << 31) - 1
    assert all(0 <= m < p31 for v in by_doc.values() for m in v.values())


def test_portable_lsh_finds_dups(docs):
    out = dedup.minhash_lsh_pairs_portable(docs, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out.collect()}
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 4) in pairs  # near-dup caught with 16 bands


def test_portable_simhash(docs):
    fp = {r["doc_id"]: r["fp"] for r in dedup.simhash_portable(docs).collect()}
    assert fp[1] == fp[2] == fp[3]
    assert all(0 <= v < (1 << 32) for v in fp.values())
    # one-word perturbation flips only a few of the 32 bits
    assert bin(fp[1] ^ fp[4]).count("1") <= 10


VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [0.95, 0.05, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS], "vec_id long, embedding array<float>"
    )


def test_cosine_topk_bruteforce(vecs):
    out = similarity.cosine_topk_bruteforce(
        vecs.filter(F.col("vec_id") == 1), vecs, k=2
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert [g[0] for g in got] == [5, 2]  # closest first
    cos12 = next(r["cos_sim"] for r in out if r["neighbor_id"] == 2)
    exp = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert cos12 == pytest.approx(exp, abs=1e-6)


def test_cosine_topk_lsh_recall(vecs):
    exact = similarity.cosine_topk_bruteforce(vecs.filter(F.col("vec_id") == 1), vecs, k=1)
    approx = similarity.cosine_topk_lsh(
        vecs.filter(F.col("vec_id") == 1), vecs, dim=4, k=1, n_planes=8, band_bits=2
    )
    e = exact.collect()[0]
    a = approx.collect()
    assert a, "LSH returned no candidates for a near-identical vector"
    assert a[0]["neighbor_id"] == e["neighbor_id"]


def test_embedding_near_dup(vecs):
    out = similarity.embedding_near_dup(vecs, dim=4, threshold=0.98, n_planes=8, band_bits=2)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 5) in pairs
    assert (1, 3) not in pairs


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk_bruteforce(queries, emb, k=5)
    approx = similarity.ivf_topk(queries, emb, k=5, n_lists=8, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # rank-1 neighbor should almost always be found with half the cells probed
    e1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect() if r["rank"] == 1}
    a_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    hits = sum(1 for q, n in e1.items() if (q, n) in a_pairs)
    assert hits >= len(e1) - 1


def test_cosine_topk_arrow_agrees_with_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    a = similarity.cosine_topk_bruteforce(q, emb, k=5).collect()
    b = similarity.cosine_topk_arrow(q, emb, k=5).collect()
    sa = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in a}
    sb = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in b}
    assert sa == sb


def test_cosine_topk_arrow_empty_queries(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.cosine_topk_arrow(emb.filter(F.col("vec_id") < 0), emb, k=5)
    assert out.count() == 0


def test_chunk_tokens(docs):
    rows = text.chunk_tokens(docs, n=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_pos"], r["chunk"]))
    # doc 1 has 9 tokens -> 3 chunks of 4/4/1, positions 0..2
    c1 = sorted(by_doc[1])
    assert [p for p, _ in c1] == [0, 1, 2]
    assert c1[0][1] == "the quick brown fox"
    assert c1[2][1] == "dog"
    # reassembly round-trips the normalized text
    assert " ".join(c for _, c in c1) == "the quick brown fox jumps over the lazy dog"


def test_line_dedup_removes_boilerplate(spark):
    rows = [
        (1, "keep me one\nCOPYRIGHT FOOTER\nunique tail a"),
        (2, "keep me two\ncopyright footer\nunique tail b"),
        (3, "keep me three\nCopyright Footer\nunique tail c"),
        (4, "totally unrelated\nsolo line"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["clean_text"] for r in text.line_dedup(df, min_docs=3).collect()}
    # the footer occurs (case-normalized) in 3 docs -> removed everywhere
    assert got[1] == "keep me one\nunique tail a"
    assert got[2] == "keep me two\nunique tail b"
    assert got[3] == "keep me three\nunique tail c"
    assert got[4] == "totally unrelated\nsolo line"


def test_line_dedup_empties_all_boilerplate_doc(spark):
    rows = [(1, "same\nsame"), (2, "same"), (3, "other stuff")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["clean_text"] for r in text.line_dedup(df, min_docs=2).collect()}
    assert got[1] == "" and got[2] == ""
    assert got[3] == "other stuff"


def test_top_tokens(docs):
    rows = text.top_tokens(docs, k=3).collect()
    assert rows[0]["token"] == "the"  # most frequent across DOCS
    assert rows[0]["n"] >= rows[1]["n"] >= rows[2]["n"]


def test_decontaminate(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta suffix"),   # shares 4-gram
            (2, "no overlap with the benchmark at all"),
            (3, "alpha beta gamma delta epsilon verbatim"),  # shares 2 4-grams
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_hits"] for r in dedup.decontaminate(train, bench, n=4).collect()}
    assert got[1] == 1
    assert got[3] == 2
    assert 2 not in got


def test_corpus_profile(spark):
    rows = [
        (1, "the quick brown fox jumps over it", "en", "web"),
        (2, "the fast red fox is in the barn", "en", "web"),
        (3, "der schnelle fuchs ist nicht da", "de", "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    got = {(r["source"], r["lang"]): r for r in text.corpus_profile(df).collect()}
    assert got[("web", "en")]["n_docs"] == 2
    assert got[("web", "en")]["total_tokens"] == 15
    assert got[("books", "de")]["n_docs"] == 1
    assert 0.0 <= got[("web", "en")]["mean_quality"] <= 1.0


def test_lang_confusion(spark):
    rows = [
        (1, "the quick brown fox and the dog", "en"),
        (2, "der hund und die katze ist da", "de"),
        (3, "zzz qqq xxx", "en"),  # no markers -> 'und'
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {(r["lang_true"], r["lang_pred"]): r["n"] for r in text.lang_confusion(df).collect()}
    assert got[("en", "en")] == 1
    assert got[("de", "de")] == 1
    assert got[("en", "und")] == 1


def test_repetition_score(spark):
    rows = [
        (1, "a b a b a b"),          # bigrams: 5 total, 2 distinct
        (2, "all words here differ totally"),
        (3, "x"),                    # < n tokens -> 0.0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["rep_score"] for r in text.repetition_score(df, n=2).collect()}
    assert abs(got[1] - (1 - 2 / 5)) < 1e-12
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_label_centroids(spark):
    rows = [
        (1, [1.0, 2.0], 0),
        (2, [3.0, 4.0], 0),
        (3, [10.0, 20.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {(r["label"], r["pos"]): r["mean_v"] for r in similarity.label_centroids(df).collect()}
    assert got[(0, 0)] == 2.0 and got[(0, 1)] == 3.0
    assert got[(1, 0)] == 10.0 and got[(1, 1)] == 20.0


def test_pack_sequential(spark):
    rows = [
        (1, "a", 300), (2, "a", 300), (3, "a", 300),  # cum starts 0,300,600
        (4, "b", 600),                                 # own partition
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    got = {r["doc_id"]: r["pack_id"] for r in text.pack_sequential(
        df, "n_tokens", 512, part_cols=("source",), order_cols=("doc_id",)).collect()}
    assert got[1] == 0 and got[2] == 0  # starts 0 and 300 -> pack 0
    assert got[3] == 1                  # start 600 -> pack 1
    assert got[4] == 0                  # fresh partition


def test_corpus_clean_reasons(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and keeps on running through fields today always"),
        (2, "the quick brown fox jumps over the lazy dog and keeps on running through fields today always"),  # dup of 1
        (3, "tiny"),                                     # too_short
        (4, "spam spam " * 20),                          # repetitive (+maybe und)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.corpus_clean(df, min_tokens=5, min_quality=0.0, max_repetition=0.5,
                            langs=("en", "und"))
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["keep"] == 1 and got[1]["reasons"] == ""
    assert got[2]["keep"] == 0 and "duplicate" in got[2]["reasons"]
    assert got[3]["keep"] == 0 and "too_short" in got[3]["reasons"]
    assert got[4]["keep"] == 0 and "repetitive" in got[4]["reasons"]


def test_nearest_centroid_classify_separated_clusters(spark):
    import random

    random.seed(5)
    rows = []
    for i in range(60):
        lab = i % 3
        center = [0.0, 0.0, 0.0]
        center[lab] = 10.0
        rows.append((i, [c + random.uniform(-0.5, 0.5) for c in center], lab))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cm = {(r["label_true"], r["label_pred"]): r["n"]
          for r in similarity.nearest_centroid_classify(df).collect()}
    # perfectly separated clusters -> diagonal confusion matrix
    assert cm == {(0, 0): 20, (1, 1): 20, (2, 2): 20}


def test_corpus_clean_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, "x y z")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.corpus_clean(df, min_tokens=2, min_quality=0.0,
                                                     langs=("en", "und")).collect()}
    assert got[1]["keep"] == 0 and "too_short" in got[1]["reasons"]


def test_ngram_jaccard_uncapped_matches_capped(docs):
    # with no shingle over the cap, the uncapped (self-join) and
    # capped (posting-list) paths must produce identical pairs
    capped = {
        (r["id_a"], r["id_b"], r["inter"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.1, max_df=100).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"], r["inter"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.1, max_df=None).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_token_frequencies(docs):
    freq = {r["token"]: (r["tf"], r["df_docs"])
            for r in text.token_frequencies(docs).collect()}
    # "the" occurs twice in each of docs 1-4 → tf=8, df=4
    assert freq["the"] == (8, 4)
    assert freq["sleepy"] == (1, 1)


def test_corpus_frequency_score_brute(docs):
    rows = text.corpus_frequency_score(docs).collect()
    # brute-force expectation in python
    import collections
    toks = {i: t.lower().split() for i, t in DOCS}
    ctf = collections.Counter(w for ws in toks.values() for w in ws)
    total = sum(ctf.values())
    for r in rows:
        ws = toks[r["doc_id"]]
        assert r["n_tok"] == len(ws)
        assert r["sum_tf"] == sum(ctf[w] for w in ws)
        expect = sum(ctf[w] for w in ws) / (len(ws) * total)
        assert math.isclose(float(r["cf_score"]), expect, rel_tol=1e-9)
    # common-token docs (1-4 share frequent words) score above the outliers
    scores = {r["doc_id"]: float(r["cf_score"]) for r in rows}
    assert scores[1] > scores[5] and scores[1] > scores[6]


def test_tfidf_keywords_ranks_distinguishing_tokens(docs):
    kw = text.tfidf_keywords(docs, k=3).collect()
    by_doc = {}
    for r in kw:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 3 for v in by_doc.values())
    assert all([r["rnk"] for r in sorted(v, key=lambda x: x["rnk"])] ==
               list(range(1, len(v) + 1)) for v in by_doc.values())
    # doc 4's unique word outranks its shared words
    assert by_doc[4][0]["token"] == "sleepy"
    # doc-5 keywords are all df=1 (fully distinguishing)
    assert all(r["df_docs"] == 1 for r in by_doc[5])


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex.co or call +1 555-867-5309 from 10.0.42.7 ok"),
         (2, "nothing sensitive here at all")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert (got[1]["email_n"], got[1]["ip_n"], got[1]["phone_n"]) == (1, 1, 1)
    assert got[1]["text_redacted"] == "mail <EMAIL> or call <PHONE> from <IP> ok"
    assert (got[2]["email_n"], got[2]["ip_n"], got[2]["phone_n"]) == (0, 0, 0)
    assert got[2]["text_redacted"] == got[2]["text"]


def test_gopher_rules_flags(spark):
    long_good = " ".join(
        "the quick brown fox and that dog have fun with code".split() * 6
    )  # 66 words, all alpha, stopwords present
    short = "tiny doc"
    symbols = " ".join(["####"] * 60)
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (3, symbols)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in text.gopher_rules(df).collect()}
    assert got[1]["keep"] is True
    assert got[1]["n_words"] == 66 and got[1]["flag_stop_words"]
    assert got[2]["keep"] is False and not got[2]["flag_word_count"]
    assert got[3]["keep"] is False
    assert not got[3]["flag_alpha_words"] and not got[3]["flag_symbol_ratio"]


def test_ivf_topk_fixed_recall_and_full_probe_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(
            emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
        )
    ]
    exact = similarity.cosine_topk_bruteforce(queries, emb, k=5)
    approx = similarity.ivf_topk_fixed(queries, emb, cents, k=5, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5
    # probing EVERY cell degenerates to exact brute force — the
    # IVF invariant that pins the cell/probe machinery correct
    full = similarity.ivf_topk_fixed(queries, emb, cents, k=5, n_probe=len(cents))
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    x = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    assert f == x


def test_ngram_containment_catches_doc_inside_doc(spark):
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally unrelated content here now")],
        ["doc_id", "text"],
    )
    out = dedup.ngram_containment_pairs(df, n=3, threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    # every 3-gram of the small doc is inside the big one
    assert r["cont_a"] == pytest.approx(1.0)
    # and Jaccard would have missed it
    jac = r["inter"] / (r["size_a"] + r["size_b"] - r["inter"])
    assert jac < 0.1
    assert not [p for p in pairs if 3 in p]


def test_learn_bpe_textbook_merges(spark):
    # Sennrich et al.'s classic example: (low x5, lower x2, newest x6,
    # widest x3) — first merges are e+s, es+t, est+</w>, l+o, lo+w
    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges = text.learn_bpe(df, n_merges=5)
    assert merges == [
        ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")
    ]
    # deterministic under repartitioning (census is order-independent)
    df2 = spark.createDataFrame(
        [(i, w) for i, w in enumerate(corpus.split())], ["doc_id", "text"]
    ).repartition(7)
    assert text.learn_bpe(df2, n_merges=5) == merges


def test_learn_bpe_vocab_ceiling_guard(spark):
    """VERDICT r8 item 8: the merge loop is driver-side and linear in
    the census — budgets past 2M must raise loudly instead of
    serializing for hours."""
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="driver-loop\\s+ceiling"):
        text.learn_bpe(df, n_merges=1, max_vocab=2_000_001)
    assert text.learn_bpe(df, n_merges=1, max_vocab=2_000_000)


def test_learn_bpe_max_vocab_caps_census(spark):
    # the driver census is bounded by max_vocab: with 4 distinct words
    # and max_vocab=2, only the top-2 by frequency (newest x6, low x5)
    # feed the merge loop — the driver never sees the tail
    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges = text.learn_bpe(df, n_merges=3, max_vocab=2)
    # pair counts from {newest:6, low:5} only: (e,s)=(s,t)=(t,</w>)=
    # (n,e)=(w,e)=(e,w)=6 — lexicographic min first; 'es' then chains
    assert merges[0] == ("e", "s")
    # uncapped run differs once the tail matters, capped is stable
    assert merges == text.learn_bpe(df, n_merges=3, max_vocab=2)
    # cap at the tie boundary is deterministic (lexicographic)
    m3a = text.learn_bpe(df, n_merges=2, max_vocab=3)
    m3b = text.learn_bpe(df.repartition(5), n_merges=2, max_vocab=3)
    assert m3a == m3b


def test_cosine_topk_arrow_query_cap(spark):
    import pytest as _pytest

    from demv_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="max_query_rows"):
        similarity.cosine_topk_arrow(vecs, vecs, k=2, max_query_rows=4)
    # under the cap: unchanged behavior
    out = similarity.cosine_topk_arrow(vecs, vecs, k=2, max_query_rows=100)
    assert out.count() == 16


def test_bpe_tokenize_applies_merges_and_roundtrips(spark):
    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    train = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges = text.learn_bpe(train, n_merges=5)
    docs = spark.createDataFrame(
        [(1, "low newest"), (2, "unseen lower")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["bpe_tokens"]
           for r in text.bpe_tokenize(docs, merges).collect()}
    assert got[1] == ["low", "</w>", "n", "e", "w", "est</w>"]
    # unseen words fall back to finer subwords; concatenation minus
    # the </w> markers reconstructs the original words exactly
    for doc_id, txt in ((1, "low newest"), (2, "unseen lower")):
        rebuilt = "".join(got[doc_id]).replace("</w>", " ").strip()
        assert rebuilt == txt


def test_winnow_fingerprints_overlap_guarantee(spark):
    """Winnowing guarantee (SIGMOD'03): a shared run of at least
    window + n − 1 tokens yields at least one identical fingerprint
    in both documents; disjoint texts share none (md5 60-bit hashes —
    collisions are negligible)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, f"one prefix here {shared} and a suffix"),
            (2, f"{shared} totally different tail words follow now"),
            (3, "unrelated content with no overlap at all whatsoever here"),
            (4, "tiny doc"),          # shorter than one shingle
            (5, "five little words here exactly"),  # shingles < window
        ],
        ["doc_id", "text"],
    )
    out = text.winnow_fingerprints(docs, n=4, window=8)
    fps = {}
    for r in out.collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared 12-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert 4 not in fps          # < n tokens → no shingles → no rows
    assert len(fps[5]) == 1      # short doc: min of its shingle hashes


def test_winnow_is_map_only_until_explode(spark):
    from demv_spark.plans.introspect import plan_stats

    docs = spark.createDataFrame([(1, "a b c d e f g h i j k l")], ["doc_id", "text"])
    s = plan_stats(text.winnow_fingerprints(docs))
    assert s["n_exchanges"] == 0
    assert not s["has_python_udf"]


def test_winnow_overlap_pairs(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, f"one prefix here {shared} and a suffix"),
            (2, f"{shared} totally different tail words follow now"),
            (3, "unrelated content with no overlap at all whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["shared"]
        for r in dedup.winnow_overlap_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs          # the shared run must match
    assert all(3 not in p for p in pairs)

    # min_shared filters single-fingerprint coincidences
    strong = dedup.winnow_overlap_pairs(docs, min_shared=2).collect()
    assert all(r["shared"] >= 2 for r in strong)


# ---- normalize_text ----


def test_normalize_text_nfc_controls_whitespace(spark):
    decomposed = "cafe" + chr(769)  # e + combining acute
    composed = "caf" + chr(233)     # é as one codepoint
    rows = [
        (1, decomposed),
        (2, "a\x00b\x07c\nkeep\tme"),
        (3, None),
        (4, "  runs   of\t\tspace  "),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r["norm_text"] for r in text.normalize_text(df).collect()}
    assert got[1] == composed and len(got[1]) == 4
    assert got[2] == "abc\nkeep me"   # controls gone, \n survives, \t collapses
    assert got[3] == ""
    assert got[4] == "runs of space"


def test_normalize_text_lowercase_dedup_key(spark):
    df = spark.createDataFrame([(1, "The SAME Text"), (2, "the same text")], ["id", "text"])
    out = text.normalize_text(df, lowercase=True)
    vals = {r["norm_text"] for r in out.collect()}
    assert vals == {"the same text"}


def test_normalize_text_rejects_existing_out_column(spark):
    """ADVICE r4: a duplicate field in the mapInPandas schema is a
    latent ambiguous-column bug — fail fast instead."""
    import pytest as _pytest

    from demv_spark.operators.text import normalize_text

    df = spark.createDataFrame([("a", "x")], ["text", "norm_text"])
    with _pytest.raises(ValueError, match="norm_text"):
        normalize_text(df, "text")


# ---- int8 quantized similarity ----


def test_quantize_embeddings_code_range_and_zero_vector(spark):
    from demv_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [1.0, -2.0, 0.5, 2.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),        # zero vector -> all-zero codes
        (3, None),                          # malformed -> dropped
        (4, [1.0, 1.0]),                    # wrong dim -> dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r["q_codes"]
           for r in quantize_embeddings(df, 4).collect()}
    assert set(got) == {1, 2}
    assert got[2] == [0, 0, 0, 0]
    # amax=2.0 -> codes = round(v*63.5): [64, -127, 32, 127]
    assert got[1] == [64, -127, 32, 127]
    assert all(-127 <= c <= 127 for c in got[1])


def test_quantized_topk_recall_vs_exact(spark):
    """int8 codes keep ~all of the top-10 at 64 dims on the real
    embeddings table (quantization noise ≪ neighbor separation)."""
    from demv_spark.operators.similarity import (
        cosine_topk_bruteforce,
        quantized_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(qs, emb, k=10, dim=64).collect()
    quant = quantized_cosine_topk(qs, emb, dim=64, k=10).collect()
    e = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    g = {}
    for r in quant:
        g.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & g[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.8


def test_quantized_topk_deterministic_under_repartition(spark):
    from demv_spark.operators.similarity import quantized_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, quantized_cosine_topk(qs, emb, dim=64, k=5).collect()))
    b = sorted(map(tuple, quantized_cosine_topk(
        qs.repartition(7), emb.repartition(13), dim=64, k=5).collect()))
    assert a == b


def test_quantized_rerank_matches_exact_topk(spark):
    """With a full-corpus shortlist the two-stage recipe IS the exact
    brute force; with a tight shortlist recall stays high."""
    from demv_spark.operators.similarity import (
        cosine_topk_bruteforce,
        quantized_rerank_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk_bruteforce(qs, emb, k=10, dim=64).collect()}
    full = {(r["query_id"], r["neighbor_id"]) for r in
            quantized_rerank_topk(qs, emb, dim=64, k=10, shortlist=10_000).collect()}
    assert full == exact
    tight = {(r["query_id"], r["neighbor_id"]) for r in
             quantized_rerank_topk(qs, emb, dim=64, k=10, shortlist=50).collect()}
    assert len(tight & exact) / len(exact) >= 0.9


def test_quantize_embeddings_excludes_nonfinite_vectors(spark):
    """Review r5: floor(NaN*c) casts to 0 in Spark but raises in SQL
    engines — vectors with NULL/NaN/inf elements have no portable
    code and must be excluded, mirroring the oracle predicate."""
    from demv_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [1.0, 2.0]),
        (2, [float("nan"), 1.0]),
        (3, [float("inf"), 1.0]),
        (4, [None, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"] for r in quantize_embeddings(df, 2).collect()}
    assert got == {1}


def test_ngram_jaccard_hashed_shingles_same_pairs(spark):
    """The 8-byte hashed shingle key must produce the identical pair
    set as the string key on real data (collisions are ~impossible at
    test cardinalities) while shrinking the shuffle key width."""
    from demv_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = sorted(
        (r["id_a"], r["id_b"], r["inter"]) for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.1, max_df=50).collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"], r["inter"]) for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.1, max_df=50, hash_shingles=True).collect()
    )
    assert a == b and len(a) > 0


# ---- product quantization (round 6) ----

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def test_pq_codebook_shape_and_seed_identity(spark):
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet(EMB)
    cents = S.pq_train_fixed(emb, 64, n_subs=8, n_cents=16)
    assert len(cents) == 8 and len(cents[0]) == 16 and len(cents[0][0]) == 8
    assert all(-127 <= x <= 127 for sub in cents for cv in sub for x in cv)
    # each seed vector's nearest centroid in every sub-space is ITSELF
    # (distance 0) -> codes == its own seed index
    enc = {r["vec_id"]: r["pq_codes"] for r in
           S.pq_encode(emb, cents, 64).filter("vec_id < 16").collect()}
    for i in range(16):
        assert enc[i] == [i] * 8, (i, enc[i])


def test_pq_dist_hand_computed(spark):
    """2 dims, 1 sub, 2 centroids — exact integer ADC by hand."""
    from demv_spark.operators import similarity as S

    cents = [[[0, 0], [64, 64]]]                    # sub 0: two centroids
    rows = [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [0.9, 1.1])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    enc = {r["vec_id"]: r["pq_codes"] for r in S.pq_encode(df, cents, 2).collect()}
    assert enc[0] == [0] and enc[1] == [1] and enc[2] == [1]
    out = S.pq_topk_fixed(df.filter("vec_id = 0"), df, cents, k=2)
    got = {(r["neighbor_id"]): r["pq_dist"] for r in out.collect()}
    # q0 grid codes (0,0); doc1/doc2 -> centroid (64,64):
    # dist = 64^2 + 64^2 = 8192 for both
    assert got == {1: 8192, 2: 8192}


def test_pq_planted_copy_ranks_first(spark):
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet(EMB)
    copy = emb.filter("vec_id = 40").withColumn(
        "vec_id", F.lit(1000040).cast("long")
    )
    allv = emb.unionByName(copy)
    cents = S.pq_train_fixed(emb, 64)
    out = S.pq_topk_fixed(allv.filter("vec_id = 40"), allv, cents, k=3)
    top = out.filter("rank = 1").collect()[0]
    # the exact copy has identical codes -> minimal distance; with
    # asymmetric distance its dist equals q's own quantization
    # residual, strictly <= every other doc's
    assert top["neighbor_id"] == 1000040


def test_pq_deterministic_under_repartition(spark):
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet(EMB)
    cents = S.pq_train_fixed(emb, 64)
    q = emb.filter("vec_id < 3")
    a = sorted(map(tuple, S.pq_topk_fixed(q, emb, cents, k=5).collect()))
    b = sorted(map(tuple,
                   S.pq_topk_fixed(q, emb.repartition(13), cents, k=5).collect()))
    assert a == b


def test_pq_encode_map_only(spark):
    from demv_spark.operators import similarity as S
    from demv_spark.plans.introspect import plan_stats

    emb = spark.read.parquet(EMB)
    cents = S.pq_train_fixed(emb, 64)
    s = plan_stats(S.pq_encode(emb, cents, 64))
    assert s["n_exchanges"] == 0 and not s["has_python_udf"]


def test_ivfpq_full_probe_equals_plain_pq(spark):
    """Probing every cell makes the candidate set the full corpus, so
    IVF-PQ must equal pq_topk_fixed row-for-row — the composition
    invariant (same property as IVF's probe-all == brute force)."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet(EMB)
    cells = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(
        emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect())]
    pq = S.pq_train_fixed(emb, 64)
    q = emb.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple,
                   S.ivfpq_topk_fixed(q, emb, cells, pq, k=5, n_probe=16).collect()))
    b = sorted(map(tuple, S.pq_topk_fixed(q, emb, pq, k=5).collect()))
    assert a == b and len(a) == 15


def test_ivfpq_partial_probe_distances_are_true_pq_distances(spark):
    """Pruning changes WHICH neighbors appear, never their distance:
    every (query, neighbor, pq_dist) under n_probe=2 must appear with
    the same distance in the unpruned scoring."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet(EMB)
    cells = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(
        emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect())]
    pq = S.pq_train_fixed(emb, 64)
    q = emb.filter(F.col("vec_id") < 3)
    pruned = {(r["query_id"], r["neighbor_id"]): r["pq_dist"]
              for r in S.ivfpq_topk_fixed(q, emb, cells, pq, k=5, n_probe=2).collect()}
    full = {(r["query_id"], r["neighbor_id"]): r["pq_dist"]
            for r in S.pq_topk_fixed(q, emb, pq, k=500).collect()}
    assert pruned and all(full[p] == d for p, d in pruned.items())


def _brute_coverage(rows, vocab_sizes):
    from collections import Counter

    c = Counter()
    for _id, t in rows:
        for tok in (t or "").strip().lower().split():
            if tok:
                c[tok] += 1
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(c.values())
    return {
        v: (min(v, len(ranked)), sum(n for _, n in ranked[:v]), total)
        for v in vocab_sizes
    }


def test_vocab_coverage_exact_vs_brute_force(docs):
    sizes = [1, 3, 7, 10_000]
    got = {r["v"]: r for r in text.vocab_coverage(docs, sizes).collect()}
    want = _brute_coverage(DOCS, sizes)
    assert set(got) == set(sizes)
    for v in sizes:
        n_vocab, covered, total = want[v]
        r = got[v]
        assert (r["n_vocab"], r["covered"], r["total"]) == (
            n_vocab, covered, total), v
        assert r["coverage"] == covered / total  # bit-exact single division


def test_vocab_coverage_boundary_cuts_equal_count_group(spark):
    # 5 tokens all with count 1: V=2 must take a pro-rata slice of
    # the single count-census group (2 of 5 occurrences)
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    r = {x["v"]: x for x in text.vocab_coverage(df, [2]).collect()}[2]
    assert (r["n_vocab"], r["covered"], r["total"]) == (2, 2, 5)


def test_vocab_coverage_monotone_and_validates(docs):
    rows = sorted(
        text.vocab_coverage(docs, [1, 2, 4, 8, 16]).collect(),
        key=lambda r: r["v"],
    )
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs)            # coverage is monotone in V
    assert covs[-1] <= 1.0
    with pytest.raises(ValueError):
        text.vocab_coverage(docs, [])
    with pytest.raises(ValueError):
        text.vocab_coverage(docs, [0, 5])
    with pytest.raises(ValueError):
        text.vocab_coverage(docs, [5, 5])


def test_vocab_coverage_random_zipf_corpus_matches_brute_force(spark):
    # seeded Zipf-ish corpus: heavy skew + deep tie plateaus (many
    # tokens sharing a count), the shapes that stress the census math
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for d in range(120):
        n = rng.randint(0, 30)
        words = [vocab[min(int(rng.paretovariate(1.1)), 199)] for _ in range(n)]
        rows.append((d, " ".join(words) if words else None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sizes = [1, 2, 5, 17, 50, 1000]
    got = {r["v"]: r for r in text.vocab_coverage(df, sizes).collect()}
    want = _brute_coverage(rows, sizes)
    for v in sizes:
        n_vocab, covered, total = want[v]
        r = got[v]
        assert (r["n_vocab"], r["covered"], r["total"]) == (
            n_vocab, covered, total), v


def test_packing_efficiency_exact_vs_brute_force(docs):
    sizes = [1, 4, 7, 64]
    got = {r["seq_len"]: r for r in text.packing_efficiency(docs, sizes).collect()}
    ns = []
    for _id, t in DOCS:
        ns.append(len([w for w in (t or "").strip().lower().split() if w]))
    for L in sizes:
        seqs = sum((n + L - 1) // L for n in ns)
        r = got[L]
        assert r["n_docs"] == len(ns)
        assert r["n_tokens"] == sum(ns)
        assert r["n_seqs"] == seqs
        assert r["n_slots"] == seqs * L
        assert r["waste"] == seqs * L - sum(ns)
        assert r["util"] == sum(ns) / (seqs * L)
    # L=1 never wastes a slot
    assert got[1]["waste"] == 0 and got[1]["util"] == 1.0


def test_packing_efficiency_zero_token_docs_cost_nothing(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "   "), (3, "a b c")], "doc_id long, text string"
    )
    r = {x["seq_len"]: x for x in text.packing_efficiency(df, [2]).collect()}[2]
    assert (r["n_docs"], r["n_tokens"], r["n_seqs"], r["n_slots"]) == (3, 3, 2, 4)
    with pytest.raises(ValueError):
        text.packing_efficiency(df, [0])
    with pytest.raises(ValueError):
        text.packing_efficiency(df, [])


def _brute_hamming(rows, max_d):
    out = {}
    for i, (ia, ha) in enumerate(rows):
        for ib, hb in rows[i + 1:]:
            a, b = (ia, ib) if ia < ib else (ib, ia)
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= max_d:
                out[(a, b)] = d
    return out


def test_hamming_near_dup_matches_brute_force(spark):
    """Banded candidates + exact verify == brute force on 64-bit
    hashes, including NEGATIVE longs (sign bit set)."""
    import random

    rng = random.Random(7)
    base = [rng.getrandbits(64) for _ in range(12)]
    rows = []
    rid = 0
    for h in base:
        for flips in (0, 1, 3, 4, 9):
            m = 0
            for i in range(flips):
                m |= 1 << ((rid * 13 + i * 17) % 64)
            v = (h ^ m) & ((1 << 64) - 1)
            # store as signed long, the Spark representation
            rows.append((rid, v - (1 << 64) if v >= (1 << 63) else v))
            rid += 1
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.hamming_near_dup(df, "id", "h", max_hamming=3).collect()
    }
    want = _brute_hamming(
        [(i, h & ((1 << 64) - 1)) for i, h in rows], 3
    )
    assert got == want and want  # non-trivial fixture


def test_hamming_near_dup_guards_and_bucket_cap(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1 << 40), (4, None)],
        "id long, h long",
    )
    with _pytest.raises(ValueError):
        dedup.hamming_near_dup(df, "id", "h", max_hamming=3, bands=2)
    # NULL hash dropped; all-zero hashes pair up exactly
    got = dedup.hamming_near_dup(df, "id", "h", max_hamming=1).collect()
    ids = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 1) in ids and (0, 2) in ids and (1, 2) in ids
    assert not any(4 in p for p in ids)
    # a cap of 2 kills the 3-row degenerate bucket (0,1,2 share every
    # band) but keeps smaller buckets alive
    capped = dedup.hamming_near_dup(
        df, "id", "h", max_hamming=64, max_bucket=2
    ).collect()
    assert not any({r["id_a"], r["id_b"]} <= {0, 1, 2} for r in capped)


def test_bm25_topk_matches_exact_python(spark):
    """The fixed-point BM25 score equals an exact-Fraction Python
    reimplementation of the documented formula on a hand corpus —
    incl. NULL text (zero tokens, never retrieved) and a doc missing
    some query terms."""
    from fractions import Fraction

    corpus = [
        (1, "spark spark table join fast"),
        (2, "table table table data"),
        (3, "spark data data join join join"),
        (4, "nothing relevant here at all"),
        (5, None),
        (6, "spark"),
    ]
    terms = ["spark", "table", "join", "data"]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["score_fx"], r["n_terms"])
        for r in text.bm25_topk(df, terms, top_k=10).collect()
    }

    toks = {i: (t or "").lower().split() for i, t in corpus}
    N = len(corpus)
    T = sum(len(v) for v in toks.values())
    dfreq = {
        q: sum(1 for v in toks.values() if q in v) for q in terms
    }
    k1, b = Fraction("1.2"), Fraction("0.75")
    want = {}
    for i, v in toks.items():
        s, n = 0, 0
        for q in terms:
            tf = v.count(q)
            if tf == 0:
                continue
            idf = Fraction(2 * N - 2 * dfreq[q] + 1, 2 * dfreq[q] + 1)
            sat = Fraction(tf * (k1 + 1).numerator, (k1 + 1).denominator) / (
                tf + k1 * (1 - b) + k1 * b * Fraction(len(v) * N, T)
            )
            s += int(1_000_000 * idf * sat)  # int() == floor for >=0
            n += 1
        if n:
            want[i] = (s, n)
    assert got == want
    assert 5 not in got and 4 not in got


def test_bm25_topk_total_order_and_k(spark):
    df = spark.createDataFrame(
        [(i, "common word") for i in range(20)], "doc_id long, text string"
    )
    out = text.bm25_topk(df, ["common"], top_k=5).collect()
    # all scores tie → doc_id ascending breaks them deterministically
    assert [r["doc_id"] for r in out] == [0, 1, 2, 3, 4]


def test_bm25_topk_normalizes_query_case(spark):
    df = spark.createDataFrame(
        [(1, "Spark spark TABLE"), (2, "other words")],
        "doc_id long, text string",
    )
    # mixed-case + duplicate terms: same result as the canonical bag
    a = text.bm25_topk(df, ["Spark", "table", "SPARK"], top_k=5).collect()
    b = text.bm25_topk(df, ["spark", "table"], top_k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a and a[0]["doc_id"] == 1 and a[0]["n_terms"] == 2


def test_bm25_batch_equals_single_and_salt_invariant(spark):
    corpus = [
        (i, f"spark table {'join ' * (i % 4)}data word{i % 7}")
        for i in range(40)
    ] + [(99, None)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    qs = {"a": ["spark", "data"], "b": ["join"], "c": ["word1", "table"]}

    def rows(out):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score_fx"], r["n_terms"])
            for r in out.collect()
        )

    base = rows(text.bm25_topk_batch(df, qs, top_k=7))
    # lossless salt pruning: any salt width gives the same top-k
    for s in (1, 4, 64):
        assert rows(text.bm25_topk_batch(df, qs, top_k=7, prune_salt=s)) == base
    # DataFrame query input == dict input (incl. case/dup normalize)
    qdf = spark.createDataFrame(
        [("a", "SPARK"), ("a", "data"), ("a", "spark"),
         ("b", " join "), ("c", "word1"), ("c", "table")],
        "query_id string, term string",
    )
    assert rows(text.bm25_topk_batch(df, qdf, top_k=7)) == base
    # per-query parity with the single-query operator
    for qid, terms in qs.items():
        single = [
            (r["doc_id"], r["score_fx"], r["n_terms"])
            for r in text.bm25_topk(df, terms, top_k=7).collect()
        ]
        batch = [
            (d, s_, n)
            for (q_, _, d, s_, n) in base
            if q_ == qid
        ]
        assert single == batch


def test_bm25_batch_normalization_parity_and_guards(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "join the table"), (2, "no match")], "doc_id long, text string"
    )
    # tab-padded dict term normalizes like the single-query canon
    a = text.bm25_topk_batch(df, {"q": ["\tjoin"]}, top_k=3).collect()
    b = text.bm25_topk(df, ["\tjoin"], top_k=3).collect()
    assert [(r["doc_id"], r["score_fx"]) for r in a] == [
        (r["doc_id"], r["score_fx"]) for r in b
    ]
    # a dict query with no usable terms raises, like the single op
    with _pytest.raises(ValueError):
        text.bm25_topk_batch(df, {"q1": ["join"], "q2": ["  "]})
    # DataFrame input: \s-trim happens plan-side
    qdf = spark.createDataFrame([("q", "\tJOIN ")], "query_id string, term string")
    c = text.bm25_topk_batch(df, qdf, top_k=3).collect()
    assert [(r["doc_id"], r["score_fx"]) for r in c] == [
        (r["doc_id"], r["score_fx"]) for r in b
    ]


def test_bm25_batch_unicode_whitespace_parity(spark):
    """NBSP-padded terms must normalize identically on the dict path
    (Python str.strip) and the DataFrame path ((?U) Java regex)."""
    df = spark.createDataFrame(
        [(1, "join the table"), (2, "no match")], "doc_id long, text string"
    )
    nbsp_term = "join "
    a = text.bm25_topk_batch(df, {"q": [nbsp_term]}, top_k=3).collect()
    qdf = spark.createDataFrame(
        [("q", nbsp_term)], "query_id string, term string"
    )
    b = text.bm25_topk_batch(df, qdf, top_k=3).collect()
    want = text.bm25_topk(df, ["join"], top_k=3).collect()
    for got in (a, b):
        assert [(r["doc_id"], r["score_fx"]) for r in got] == [
            (r["doc_id"], r["score_fx"]) for r in want
        ]


def test_cosine_topk_arrow_ragged_corpus_filtered_not_crash(spark):
    """ADVICE r6: without dim=, a wrong-length corpus vector used to
    crash the Arrow kernel (np.array on a ragged batch). dim now
    infers from the (unanimous) query set and length-filters the
    corpus; mixed-length QUERIES demand an explicit dim."""
    import pytest as _pytest

    from demv_spark.operators import similarity

    q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.5, 0.5]),
         (12, [1.0, 2.0, 3.0]),        # ragged: silently excluded
         (13, [0.25])],                # ragged: silently excluded
        ["vec_id", "embedding"],
    )
    out = similarity.cosine_topk_arrow(q, corpus, k=10)
    assert set(out.select("neighbor_id").toPandas()["neighbor_id"]) == {10, 11}
    # parity with the bruteforce path under the same explicit dim
    bf = similarity.cosine_topk_bruteforce(q, corpus, k=10, dim=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, bf.collect()))
    mixed_q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="mixed lengths"):
        similarity.cosine_topk_arrow(mixed_q, corpus, k=2)
    # explicit dim resolves the ambiguity
    ok = similarity.cosine_topk_arrow(mixed_q, corpus, k=2, dim=2)
    assert set(ok.select("query_id").toPandas()["query_id"]) == {0}


def test_pq_and_ivfpq_query_broadcast_cap(spark):
    """VERDICT r6 item 3: the fixed-codebook PQ paths must fail
    crisply past max_query_rows instead of OOMing the broadcast."""
    import pytest as _pytest

    from demv_spark.operators import similarity as S

    cents = [[[0, 0], [64, 64]]]
    rows = [(i, [float(i % 2), float(i % 2)]) for i in range(8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="pq_topk_fixed.*max_query_rows"):
        S.pq_topk_fixed(df, df, cents, k=2, max_query_rows=4)
    assert S.pq_topk_fixed(df, df, cents, k=1, max_query_rows=8).count() == 8
    cells = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    with _pytest.raises(ValueError, match="ivfpq_topk_fixed.*max_query_rows"):
        S.ivfpq_topk_fixed(df, df, cells, cents, k=2, max_query_rows=4)


def test_rrf_fuse_hand_computed(spark):
    from demv_spark.operators.similarity import rrf_fuse

    r1 = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    r2 = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    got = {r["neighbor_id"]: (r["rrf_fx"], r["rank"])
           for r in rrf_fuse([r1, r2], k=60).collect()}
    import math
    def fx(*ranks):
        s = 0.0
        for r in ranks:
            s += 1.0 / (60.0 + r)
        return math.floor(s * 1e12)
    # 11 appears in both (ranks 2,1) -> highest fused score
    assert got[11] == (fx(2, 1), 1)
    assert got[10] == (fx(1), 2)
    assert got[13] == (fx(2), 3)
    assert got[12] == (fx(3), 4)


def test_rrf_fuse_topk_and_tiebreak(spark):
    from demv_spark.operators.similarity import rrf_fuse

    # two candidates with identical contributions -> id asc breaks tie
    r1 = spark.createDataFrame(
        [(0, 5, 1), (0, 3, 1)], "query_id long, neighbor_id long, rank int"
    )
    out = rrf_fuse([r1.filter("neighbor_id = 5"), r1.filter("neighbor_id = 3")],
                   k=60, top_k=1).collect()
    assert len(out) == 1 and out[0]["neighbor_id"] == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="no rankings"):
        rrf_fuse([])


def test_rrf_fuse_three_rankers_deterministic(spark):
    from demv_spark.operators.similarity import rrf_fuse

    import random
    rnd = random.Random(4)
    frames = []
    for _ in range(3):
        rows = []
        for q in range(5):
            ids = rnd.sample(range(100), 10)
            rows += [(q, i, r + 1) for r, i in enumerate(ids)]
        frames.append(spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank int"))
    a = sorted(map(tuple, rrf_fuse(frames, top_k=5).collect()))
    b = sorted(map(tuple, rrf_fuse(
        [f.repartition(3) for f in frames], top_k=5).collect()))
    assert a == b
    assert len(a) == 25


def test_inverted_index_positions_and_tf(spark):
    from demv_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "THE the"), (3, None)],
        "doc_id long, text string",
    )
    got = {(r["term"], r["doc_id"]): (r["positions"], r["tf"]) for r in
           inverted_index(docs).collect()}
    assert got[("the", 1)] == ([0, 3], 2)
    assert got[("cat", 1)] == ([1], 1)
    assert got[("the", 2)] == ([0, 1], 2)      # lowercased
    assert not any(d == 3 for _, d in got)     # NULL text -> no terms


def test_phrase_search_exact_adjacency(spark):
    from demv_spark.operators.text import inverted_index, phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "quick brown shoes and a brown fox"),
            (3, "the quick red fox"),
            (4, "quick brown fox quick brown fox"),
        ],
        "doc_id long, text string",
    )
    idx = inverted_index(docs).cache()
    got = {r["doc_id"]: (r["n_matches"], r["first_pos"]) for r in
           phrase_search(idx, "quick brown fox").collect()}
    assert got == {1: (1, 1), 4: (2, 0)}       # 2 has the terms, not adjacent
    # two-term and repeated-term phrases
    got2 = {r["doc_id"]: r["n_matches"] for r in
            phrase_search(idx, "brown fox").collect()}
    assert got2 == {1: 1, 2: 1, 4: 2}
    rep = spark.createDataFrame([(9, "ha ha ha")], "doc_id long, text string")
    got3 = phrase_search(inverted_index(rep), "ha ha").collect()
    assert got3[0]["n_matches"] == 2            # overlapping occurrences

    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty phrase"):
        phrase_search(idx, "")


def test_phrase_search_no_udf_no_position_explode(spark):
    from demv_spark.operators.text import inverted_index, phrase_search
    from demv_spark.plans.introspect import plan_stats

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    s = plan_stats(phrase_search(inverted_index(docs), "a b"))
    assert not s["has_python_udf"]


# ---- chunked broadcast top-k (past the max_query_rows cap) ----

def test_topk_chunked_equals_unchunked(spark):
    """Chunking is invisible to the output: hash-mod chunks of the
    query set, unioned, equal the single-broadcast run row-for-row
    (per-query top-k depends only on that query's row)."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    full = sorted(map(tuple, S.quantized_cosine_topk(qs, emb, dim=64, k=5).collect()))
    chunked = sorted(map(tuple, S.quantized_cosine_topk_chunked(
        qs, emb, dim=64, k=5, chunk_rows=16).collect()))
    assert chunked == full
    assert len(chunked) > 0


def test_topk_chunked_single_chunk_passthrough(spark):
    """chunk_rows >= |Q| short-circuits to one plain call — no tag
    column leaks into the output."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    out = S.quantized_cosine_topk_chunked(qs, emb, dim=64, k=4, chunk_rows=10_000)
    assert out.columns == ["query_id", "neighbor_id", "int_dot", "rank"]
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, S.quantized_cosine_topk(qs, emb, dim=64, k=4).collect()))


def test_pq_topk_chunked_past_cap(spark):
    """The semantic-join workload that dead-ended at the cap's
    ValueError (VERDICT r7 item 4): |Q| > max_query_rows raises on
    the capped path, while the chunked path runs and matches the
    uncapped result exactly."""
    import pytest as _pytest

    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.pq_train_fixed(emb, 64, n_subs=8, n_cents=16)
    qs = emb.filter(F.col("vec_id") % 5 == 0)   # 100 queries > cap 30
    with _pytest.raises(ValueError, match="max_query_rows"):
        S.pq_topk_fixed(qs, emb, cents, k=3, max_query_rows=30).collect()
    chunked = sorted(map(tuple, S.pq_topk_chunked(
        qs, emb, cents, k=3, chunk_rows=30).collect()))
    full = sorted(map(tuple, S.pq_topk_fixed(
        qs, emb, cents, k=3, max_query_rows=1_000_000).collect()))
    assert chunked == full
    assert len(chunked) > 0


def test_topk_chunked_deterministic_under_repartition(spark):
    """Chunk assignment is a portable-md5 of the id — physical row
    order and partitioning can never change which chunk (and hence
    which broadcast batch) a query lands in."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    a = sorted(map(tuple, S.quantized_cosine_topk_chunked(
        qs, emb, dim=64, k=3, chunk_rows=16).collect()))
    b = sorted(map(tuple, S.quantized_cosine_topk_chunked(
        qs.repartition(7), emb.repartition(13), dim=64, k=3,
        chunk_rows=16).collect()))
    assert a == b


def test_topk_chunked_arrow_gate_is_output_invisible(spark):
    """The r12 auto-gate (small chunks → expression twin, VERDICT r11
    item 1) is purely a physical-plan choice: pinning arrow=True or
    arrow=False on the chunked wrapper gives the identical result the
    default auto path produces."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    auto = sorted(map(tuple, S.quantized_cosine_topk_chunked(
        qs, emb, dim=64, k=3, chunk_rows=16).collect()))
    pinned_arrow = sorted(map(tuple, S.quantized_cosine_topk_chunked(
        qs, emb, dim=64, k=3, chunk_rows=16, arrow=True).collect()))
    pinned_expr = sorted(map(tuple, S.quantized_cosine_topk_chunked(
        qs, emb, dim=64, k=3, chunk_rows=16, arrow=False).collect()))
    assert auto == pinned_arrow == pinned_expr
    assert len(auto) > 0


# ---- hard-negative mining (round 12) ----

def test_hard_negative_topk_labels_differ_and_ceiling_binds(spark):
    """Every mined negative has a label different from its query's;
    a planted flipped-label NEAR-COPY (the perfect would-be hard
    negative) is excluded by the false-negative ceiling, and included
    without it."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x.cast("double") * 1.001).cast("float"),
        ).alias("embedding"),
        ((F.col("label") + 1) % 10).alias("label"),
    )
    corpus = emb.unionByName(planted)
    qs = corpus.filter(F.col("vec_id") < 5)
    labels = {r["vec_id"]: r["label"] for r in corpus.select("vec_id", "label").collect()}

    unguarded = S.hard_negative_topk(qs, corpus, dim=64, k=10).collect()
    assert all(labels[r["query_id"]] != labels[r["neighbor_id"]] for r in unguarded)
    # without the ceiling, each even query's flipped-label near-copy
    # ranks FIRST (cos ≈ 1, label differs)
    top1 = {r["query_id"]: r["neighbor_id"] for r in unguarded if r["rank"] == 1}
    for qid in (0, 2, 4):
        assert top1[qid] == qid + 10_000_000

    guarded = S.hard_negative_topk(qs, corpus, dim=64, k=10, ceiling=0.98).collect()
    mined = {(r["query_id"], r["neighbor_id"]) for r in guarded}
    for qid in (0, 2, 4):
        assert (qid, qid + 10_000_000) not in mined  # ceiling excluded it
    assert all(labels[q] != labels[n] for q, n in mined)
    assert len(guarded) > 0


def test_hard_negative_topk_null_labels_excluded(spark):
    """NULL-label rows appear on neither side: never as a query,
    never as a negative."""
    from demv_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], None), (3, [0.0, 1.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = S.hard_negative_topk(df, df, dim=2, k=5).collect()
    ids = {r["query_id"] for r in out} | {r["neighbor_id"] for r in out}
    assert 2 not in ids
    assert len(out) > 0


def test_hard_negative_topk_plan_is_single_broadcast(spark):
    """The corpus never shuffles: one broadcast join with the label
    filter fused into the condition, no sort-merge join, no Python
    UDF."""
    from demv_spark.operators import similarity as S
    from demv_spark.plans.introspect import plan_stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.hard_negative_topk(
        emb.filter(F.col("vec_id") < 5), emb, dim=64, k=5, ceiling=0.98
    )
    s = plan_stats(out)
    assert s["n_sort_merge_joins"] == 0
    assert s["n_broadcasts"] >= 1
    assert not s["has_python_udf"]


# ---- RAG chunking: overlapping token windows (round 8) ----

def test_chunk_windows_hand_fixture(spark):
    from demv_spark.operators.text import chunk_windows

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, None)],
        "doc_id long, text string",
    )
    out = chunk_windows(df, chunk_tokens=4, overlap=2)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: stride 2 -> starts 0,2,4,6,8
    assert [rows[(1, i)]["start_tok"] for i in range(5)] == [0, 2, 4, 6, 8]
    assert rows[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[(1, 3)]["chunk_text"] == "t6 t7 t8 t9"
    assert rows[(1, 4)]["chunk_text"] == "t8 t9"       # short tail kept
    assert rows[(1, 4)]["n_chunk_tokens"] == 2
    # consecutive chunks share exactly the overlap
    for i in range(3):
        a = rows[(1, i)]["chunk_text"].split()
        b = rows[(1, i + 1)]["chunk_text"].split()
        assert a[-2:] == b[:2]
    # NULL doc -> one empty chunk (flag-not-filter)
    assert rows[(2, 0)]["chunk_text"] == "" and len(rows) == 6
    # full coverage: union of [start, start+len) is [0, 10)
    covered = set()
    for i in range(5):
        r = rows[(1, i)]
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
    assert covered == set(range(10))


def test_chunk_windows_overlap_validation_and_plan(spark):
    import pytest as _pytest

    from demv_spark.operators.text import chunk_windows
    from demv_spark.plans.introspect import plan_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with _pytest.raises(ValueError, match="overlap"):
        chunk_windows(docs, chunk_tokens=8, overlap=8)
    out = chunk_windows(docs, chunk_tokens=64, overlap=16)
    s = plan_stats(out)
    assert s["n_exchanges"] <= 1     # read_table spread only: map-only op
    assert s["n_sort_merge_joins"] == 0 and s["n_broadcasts"] == 0
    # every document is represented
    assert out.select("doc_id").distinct().count() == docs.count()


def test_topk_chunked_keeps_null_id_rows(spark):
    """Chunk assignment hashes NULL ids like any value (concat_ws,
    never concat): with an identity fn, the chunk union is exactly
    the input — a NULL-id row lands in a chunk instead of vanishing
    from every filter."""
    from demv_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i,) for i in range(10)] + [(None,)], "vec_id long"
    )
    out = S.topk_chunked(df, lambda q: q, chunk_rows=3, id_col="vec_id")
    got = sorted((r["vec_id"] for r in out.collect()),
                 key=lambda v: (v is None, v))
    assert got == sorted((r["vec_id"] for r in df.collect()),
                         key=lambda v: (v is None, v))
    assert None in got


# ---- round-8 review-fix regressions (dedup.py) ----

def test_exact_dedup_raw_keeps_one_null_text_row(spark):
    """normalized=False must keep ONE representative of the NULL-text
    group, not silently drop them all (the join back is null-safe)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    got = sorted(r["doc_id"] for r in dedup.exact_dedup(df, normalized=False).collect())
    assert got == [1, 3]
    # and the normalized path agrees (NULL ≡ '' there)
    got_n = sorted(r["doc_id"] for r in dedup.exact_dedup(df, normalized=True).collect())
    assert got_n == [1, 3]


def test_hamming_near_dup_exact_match_mode_and_band_bounds(spark):
    """max_hamming=0 (bands=1, one mask-free whole-hash band) finds
    exactly the equal-hash pairs instead of overflowing a Java long;
    bands outside 1..64 raise instead of degenerating to an all-pairs
    join."""
    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, -1), (4, -1), (5, 9)], "id long, h long"
    )
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.hamming_near_dup(df, "id", "h", max_hamming=0).collect()}
    assert got == {(1, 2), (3, 4)}
    # explicit bands outside 1..64 raise; max_hamming beyond 64 is
    # meaningless for a 64-bit hash; max_hamming=64 itself is legal
    # (every pair qualifies) with the default clamped to 64 one-bit
    # bands — best-effort recall, documented
    with pytest.raises(ValueError, match="bands"):
        dedup.hamming_near_dup(df, "id", "h", max_hamming=3, bands=65)
    with pytest.raises(ValueError, match="bands"):
        dedup.hamming_near_dup(df, "id", "h", max_hamming=3, bands=0)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_near_dup(df, "id", "h", max_hamming=65)
    all_q = {(r["id_a"], r["id_b"]) for r in
             dedup.hamming_near_dup(df, "id", "h", max_hamming=64).collect()}
    assert {(1, 2), (3, 4)} <= all_q


def test_hamming_near_dup_remainder_bits_are_banded(spark):
    """With bands not dividing 64, the top remainder bits belong to a
    band: two hashes differing ONLY there no longer agree on every
    band (precision), while true pairs keep the pigeonhole guarantee
    (results identical to the divisible-bands configuration)."""
    # (1<<62) vs (1<<62)|(sign bit): differ ONLY in bit 63 — the top
    # remainder region the old uniform chunks never banded
    rows = [(1, 1 << 62), (2, (1 << 62) - (1 << 63)), (3, 5), (4, 5)]
    df = spark.createDataFrame(rows, "id long, h long")
    # bands=5 (64 = 13+13+13+13+12): pair (1,2) differs in one top
    # bit -> dist 1 <= max_hamming, still found via the other bands
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in
           dedup.hamming_near_dup(df, "id", "h", max_hamming=4, bands=5).collect()}
    assert got[(1, 2)] == 1 and got[(3, 4)] == 0


def test_simhash_near_pairs_excludes_blank_docs(spark):
    """m blank/NULL docs share one signature — they must not mint
    m(m-1)/2 distance-0 pairs."""
    df = spark.createDataFrame(
        [(i, "") for i in range(10)] + [(20, None), (21, "   ")]
        + [(30, "real text here"), (31, "real text here")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.simhash_near_pairs(df, max_hamming=2).collect()}
    assert got == {(30, 31)}


def test_first_wins_matches_keeps_caller_score_name(spark):
    from demv_spark.operators.dedup import first_wins_matches

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8)], "id_a long, id_b long, jaccard double"
    )
    out = first_wins_matches(pairs, 0.5, est="jaccard")
    assert out.columns == ["doc_id", "dup_of", "jaccard"]


def _sequential_replace_encode(word: str, merges) -> list[str]:
    """Python mirror of the q_text_bpe_encode ORACLE: sentinel-bracket
    every symbol, then one left-to-right non-overlapping replace per
    merge in rank order (exactly what DuckDB's nested replace() does)."""
    s = "".join(f"\x01{c}\x02" for c in list(word) + ["</w>"])
    for a, b in merges:
        s = s.replace(f"\x01{a}\x02\x01{b}\x02", f"\x01{a}{b}\x02")
    return s.strip("\x01\x02").split("\x02\x01")


def test_bpe_sequential_replace_equivalence(spark):
    """The theorem the q_text_bpe_encode oracle rests on: for any
    merge list PRODUCED BY learn_bpe (each merge's parts exist when it
    fires), rank-order sequential replacement equals the kernel's
    lowest-rank-first greedy loop — a merge can never create a
    lower-or-equal-rank pair, because every new adjacency involves the
    just-created (strictly later-ranked) symbol. Random corpora over a
    small alphabet make merge interactions dense (chained merges,
    self-adjacent pairs like ('a','a'), runs)."""
    import random

    from demv_spark.operators.text import bpe_tokenize, learn_bpe

    for seed in (3, 11, 27):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randrange(1, 9)))
            for _ in range(120)
        ]
        docs = [
            " ".join(rng.choice(words) for _ in range(rng.randrange(1, 12)))
            for _ in range(30)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], ["doc_id", "text"]
        )
        merges = learn_bpe(df, n_merges=12)
        got = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_tokenize(df, merges).collect()
        }
        for i, t in enumerate(docs):
            want = [
                tok
                for w in t.lower().strip().split()
                for tok in _sequential_replace_encode(w, merges)
            ]
            assert got[i] == want, (seed, i, t, merges, got[i], want)


def test_bpe_sequential_replace_counterexample_is_out_of_domain():
    """The equivalence does NOT hold for arbitrary merge lists — a
    merge referencing a symbol created by a LATER merge breaks it
    (greedy can fire it after the later merge runs; sequential replay
    has already passed it). learn_bpe can never emit such a list
    (each merge is over the then-current vocabulary), which is why the
    oracle's domain is learn_bpe output. Pin the counterexample so the
    boundary stays documented."""
    bad = [("ab", "c"), ("a", "b")]
    # greedy (the kernel's semantics): a b c -> ab c -> abc
    # sequential replay: merge ("ab","c") sees no occurrence, then
    # ("a","b") fires -> tokens [ab, c, </w>] stay unmerged
    assert _sequential_replace_encode("abc", bad) == ["ab", "c", "</w>"]


# ---- PCA whitening (round 9, sixth wave) ----

def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from demv_spark.operators.similarity import embedding_covariance

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = embedding_covariance(df, dim=8).collect()
    X = np.array(
        df.select("embedding").toPandas()["embedding"].tolist()
    )[:, :8].astype(np.float64)
    C = np.cov(X, rowvar=False)
    assert len(rows) == 8 * 9 // 2
    for r in rows:
        # decimal(28,6)-stable sums quantize at 1e-6 per addend; on
        # 500 rows the census is within ~1e-7 of the float64 answer
        assert abs(r["cov"] - C[r["i"], r["j"]]) < 1e-6, (r["i"], r["j"])


def test_pca_components_and_projection_properties(spark):
    import numpy as np

    from demv_spark.operators.similarity import (
        embedding_covariance,
        pca_components,
        project_embeddings,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cov = embedding_covariance(df, dim=8).collect()
    vals, comps = pca_components(cov, 8)
    V = np.array(comps)
    # orthonormal axes, eigenvalues descending, sign convention fixed
    assert np.allclose(V @ V.T, np.eye(8), atol=1e-9)
    assert all(vals[i] >= vals[i + 1] - 1e-12 for i in range(7))
    assert all(V[k, np.argmax(np.abs(V[k]))] > 0 for k in range(8))

    X = np.array(
        df.select("embedding").toPandas()["embedding"].tolist()
    )[:, :8].astype(np.float64)
    means = [float(m) for m in X.mean(0)]
    got = {
        r["vec_id"]: list(r["pca"])
        for r in project_embeddings(df, comps, means=means)
        .select("vec_id", "pca").collect()
    }
    P = (X - X.mean(0)) @ V.T
    ids = [r["vec_id"] for r in df.select("vec_id").collect()]
    for row_idx, vid in enumerate(ids):
        assert np.allclose(got[vid], P[row_idx], atol=1e-9)
    # projected variances reproduce the eigenvalues (PCA's whole point)
    pv = P.var(0, ddof=1)
    assert np.allclose(sorted(pv)[::-1], vals, rtol=1e-4)


def test_pca_projection_is_map_only(spark):
    from demv_spark.operators.similarity import project_embeddings
    from demv_spark.plans.introspect import plan_stats

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comps = [[1.0 if i == k else 0.0 for i in range(8)] for k in range(4)]
    stats = plan_stats(project_embeddings(df, comps))
    assert stats["n_exchanges"] == 0
    assert not stats["has_python_udf"]


def test_embedding_covariance_dim_cap(spark):
    import pytest as _pytest

    from demv_spark.operators.similarity import embedding_covariance

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError, match="1..64"):
        embedding_covariance(df, dim=65)


def test_embedding_covariance_excludes_malformed_vectors(spark):
    """The family's malformed-row contract: NULL and too-short
    vectors are excluded at entry instead of throwing
    INVALID_ARRAY_INDEX under ANSI mode (caught by the round-9
    malformed sweep)."""
    from demv_spark.operators.similarity import embedding_covariance

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [2.0, 4.0, 6.0]),
        (2, None),
        (3, []),
        (4, [9.0]),          # too short for dim=2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_covariance(df, dim=2).collect()
    assert {r["n"] for r in out} == {2}  # only the two valid vectors
    assert len(out) == 3


def test_learn_bpe_indexed_loop_equals_naive_recompute(spark):
    """Round 10: the merge loop was rewritten from recompute-per-
    iteration to the indexed incremental form (exact pair counts +
    pair->word index) so a 32k-merge production vocabulary is
    tractable. The returned merge list must be IDENTICAL — this
    property test replays the naive reference on random word censuses
    and requires equality through full merge exhaustion."""
    import random

    from collections import Counter

    def naive(census, n_merges):
        vocab = {}
        for w, n in census:
            seq = tuple(w) + ("</w>",)
            vocab[seq] = vocab.get(seq, 0) + n
        merges = []
        for _ in range(n_merges):
            pairs = Counter()
            for seq, n in vocab.items():
                for a, b in zip(seq, seq[1:]):
                    pairs[(a, b)] += n
            if not pairs:
                break
            best_n = max(pairs.values())
            best = min(p for p, n in pairs.items() if n == best_n)
            merges.append(best)
            merged = best[0] + best[1]
            new_vocab = {}
            for seq, n in vocab.items():
                out, i = [], 0
                while i < len(seq):
                    if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
            vocab = new_vocab
        return merges

    rng = random.Random(20260816)
    for trial in range(6):
        n_words = rng.randint(5, 60)
        words = []
        for _ in range(n_words):
            length = rng.randint(1, 9)
            w = "".join(rng.choice("abcde") for _ in range(length))
            words.append((w, rng.randint(1, 20)))
        corpus = " ".join(w for w, n in words for _ in range(n))
        df = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
        # run past exhaustion: every pair eventually merges, so the
        # index bookkeeping is exercised through deletion and re-add
        want = naive(words, 400)
        got = text.learn_bpe(df, n_merges=400)
        assert got == want, f"trial {trial}: diverged at {len(want)} merges"


# ---- semantic benchmark decontamination (round 12) ----

def test_decontaminate_semantic_flags_planted_leaks(spark):
    """Every planted eval near-copy flags its leaked origin at
    tau=0.98; unrelated corpus rows flag nothing at tau=0.999999."""
    from demv_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x.cast("double") * 1.001).cast("float"),
        ).alias("embedding"),
    )
    out = S.decontaminate_semantic(emb, bench, dim=64, tau=0.98).collect()
    flagged = {(r["vec_id"], r["bench_id"]) for r in out}
    origins = [r["vec_id"] for r in emb.filter(F.col("vec_id") % 11 == 0)
               .select("vec_id").collect()]
    for vid in origins:
        assert (vid, vid + 20_000_000) in flagged
    # the contract is the pairs table: anti-join drops the leaks
    clean = emb.join(
        S.decontaminate_semantic(emb, bench, dim=64, tau=0.98)
        .select("vec_id").distinct(),
        "vec_id", "left_anti",
    )
    assert clean.count() <= emb.count() - len(origins)


def test_decontaminate_semantic_plan_broadcasts_bench(spark):
    """The corpus never shuffles: the eval side broadcasts once and
    the tau filter rides the scored map-side pair — no sort-merge
    join, no Python UDF."""
    from demv_spark.operators import similarity as S
    from demv_spark.plans.introspect import plan_stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 11 == 0)
    s = plan_stats(S.decontaminate_semantic(emb, bench, dim=64, tau=0.98))
    assert s["n_sort_merge_joins"] == 0
    assert s["n_broadcasts"] >= 1
    assert not s["has_python_udf"]


def test_decontaminate_semantic_malformed_rows_excluded(spark):
    """NULL/ragged embeddings on either side drop out of the pair
    stage (quantize_embeddings' validity contract) instead of
    crashing or pairing."""
    from demv_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [1.0])],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, None)],
        "vec_id long, embedding array<float>",
    )
    out = S.decontaminate_semantic(corpus, bench, dim=2, tau=0.9).collect()
    assert {(r["vec_id"], r["bench_id"]) for r in out} == {(0, 100)}


def test_decontaminate_report_layer_flags(spark):
    """The e2e combiner: a planted semantic-only leak carries
    (0,0,1); every bench text doc's layer hits agree with the
    individual layer operators run standalone."""
    from demv_spark.operators import dedup as D
    from demv_spark.operators import similarity as S

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bench_docs = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench_emb = emb.filter(F.col("vec_id") % 20 == 0)
    planted = bench_emb.select(
        (F.col("vec_id") + 30_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: (x.cast("double") * 1.001).cast("float"),
        ).alias("embedding"),
        "label",
    )
    corpus_emb = emb.filter(F.col("vec_id") % 20 != 0).unionByName(planted)

    rep = D.decontaminate_report(
        train, bench_docs, corpus_emb, bench_emb,
        n=4, threshold=0.5, dim=64, tau=0.98,
    ).collect()
    flags = {r["doc_id"]: (r["hit_exact"], r["hit_near"], r["hit_semantic"])
             for r in rep}
    # every planted +30M id is flagged semantic-only (it has no text)
    planted_ids = [r["vec_id"] for r in planted.select("vec_id").collect()]
    for pid in planted_ids:
        assert flags[pid] == (0, 0, 1), (pid, flags.get(pid))
    # standalone layers agree with the combined flags
    exact_ids = {r["doc_id"] for r in
                 D.decontaminate(train, bench_docs, n=4).select("doc_id")
                 .distinct().collect()}
    assert {d for d, f in flags.items() if f[0] == 1} == exact_ids
    sem_ids = {r["vec_id"] for r in S.decontaminate_semantic(
        corpus_emb, bench_emb, dim=64, tau=0.98).select("vec_id")
        .distinct().collect()}
    assert {d for d, f in flags.items() if f[2] == 1} == sem_ids
    # a flagged row has at least one hit by construction
    assert all(sum(f) >= 1 for f in flags.values())


def test_leakage_free_split_no_pair_crosses_sides(spark):
    """The defining invariant: no near-dup pair straddles the
    train/val boundary; every doc gets exactly one row; singletons
    keep their own id as cluster label; the assignment is
    deterministic under repartitioning."""
    from demv_spark.operators import dedup as D

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    pairs = D.minhash_lsh_pairs_portable(
        docs, num_hashes=32, bands=8, shingle_n=3
    ).filter(F.col("est_jaccard") >= 0.5)
    split = D.leakage_free_split(docs, pairs, val_pct=10)
    rows = split.collect()
    assert len(rows) == docs.select("doc_id").distinct().count()
    side = {r["doc_id"]: r["side"] for r in rows}
    clus = {r["doc_id"]: r["cluster_id"] for r in rows}
    for p in pairs.collect():
        assert side[p["id_a"]] == side[p["id_b"]], p
        assert clus[p["id_a"]] == clus[p["id_b"]], p
    paired = {p["id_a"] for p in pairs.collect()} | {
        p["id_b"] for p in pairs.collect()}
    for d, c in clus.items():
        if d not in paired:
            assert c == d  # singleton labels itself
    assert {r["side"] for r in rows} <= {"train", "val"}
    again = sorted(map(tuple, D.leakage_free_split(
        docs.repartition(7), pairs, val_pct=10).collect()))
    assert again == sorted(map(tuple, rows))
