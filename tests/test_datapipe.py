"""Data-pipeline operators: dedup / similarity / textstats / multimodal.

Oracles are independent pandas/numpy recomputations over the same
driver-generated tables.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quickwit_spark.datapipe import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_pdf(docs):
    return docs.toPandas()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- dedup


def test_exact_dedup_marks_real_duplicates(spark, docs):
    # duplicate three docs under fresh keys → exactly those marked
    base = docs.limit(3).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    df = docs.select("doc_id", "text").union(base)
    out = dedup.exact_dedup(df, "doc_id").toPandas()
    dups = out[out["is_duplicate"]]
    assert set(dups["doc_id"]) == {100000, 100001, 100002}
    assert set(dups["dup_group"]) == {0, 1, 2}


def test_shingles_match_python(docs, docs_pdf):
    got = (
        dedup.shingles(docs.select("doc_id", "text").limit(20), "text", 3)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .toPandas()
        .set_index("doc_id")["n"]
    )
    for did, text in zip(docs_pdf["doc_id"].head(20), docs_pdf["text"].head(20)):
        toks = text.split()
        exp = len({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        assert got.get(did, 0) == exp


def test_ngram_jaccard_finds_planted_pair(spark, docs):
    row = docs.limit(1).toPandas().iloc[0]
    toks = row["text"].split()
    # near-duplicate: change one middle token
    toks[len(toks) // 2] = "zzzmutated"
    near = spark.createDataFrame(
        [(999991, " ".join(toks))], "doc_id long, text string"
    )
    df = docs.select("doc_id", "text").union(near)
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.5).toPandas()
    hit = pairs[(pairs["key_a"] == row["doc_id"]) & (pairs["key_b"] == 999991)]
    assert len(hit) == 1 and hit["jaccard"].iloc[0] > 0.5


def test_minhash_lsh_recalls_planted_near_dup(spark, docs):
    row = docs.limit(1).toPandas().iloc[0]
    toks = row["text"].split()
    toks[len(toks) // 2] = "zzzmutated"
    near = spark.createDataFrame(
        [(999991, " ".join(toks))], "doc_id long, text string"
    )
    df = docs.select("doc_id", "text").limit(100).union(near)
    sigs = dedup.minhash_signatures(df, "doc_id", num_perm=64)
    pairs = dedup.minhash_lsh_pairs(sigs, "doc_id", bands=16, rows=4).toPandas()
    hit = pairs[(pairs["key_a"] == row["doc_id"]) & (pairs["key_b"] == 999991)]
    assert len(hit) == 1
    assert hit["est_jaccard"].iloc[0] > 0.5


def test_simhash_identical_and_near(spark, docs):
    row = docs.limit(1).toPandas().iloc[0]
    df = docs.select("doc_id", "text").limit(50).union(
        spark.createDataFrame([(999991, row["text"])], "doc_id long, text string")
    )
    sh = dedup.simhash(df, "doc_id")
    pairs = dedup.simhash_near_pairs(sh, "doc_id", max_hamming=0).toPandas()
    assert ((pairs["key_a"] == row["doc_id"]) & (pairs["key_b"] == 999991)).any()


# ------------------------------------------------------------ similarity


def test_brute_force_topk_matches_numpy(emb):
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    for q in range(3):
        qrow = got[got["query_id"] == ids[q]].sort_values("rank")
        s = sims[q].copy()
        order = sorted(
            [(i, s[i]) for i in range(len(ids)) if ids[i] != ids[q]],
            key=lambda t: (-round(t[1], 9), ids[t[0]]),
        )[:5]
        exp_ids = [ids[i] for i, _ in order]
        assert list(qrow["neighbor_id"]) == exp_ids
        np.testing.assert_allclose(
            qrow["cosine"].to_numpy(), [s for _, s in order], rtol=1e-9
        )


def test_lsh_topk_subset_of_exact_scores(emb):
    queries = emb.filter(F.col("vec_id") < 2)
    approx = similarity.lsh_topk(emb, queries, k=5, planes=4).toPandas()
    # every returned neighbor must carry the true cosine (rerank exact)
    exact = similarity.brute_force_topk(emb, queries, k=2000).toPandas()
    merged = approx.merge(
        exact, on=["query_id", "neighbor_id"], suffixes=("_a", "_e")
    )
    assert len(merged) == len(approx)
    np.testing.assert_allclose(merged["cosine_a"], merged["cosine_e"], rtol=1e-9)


# ------------------------------------------------------------- textstats


def test_token_stats_and_fingerprint_match_python(docs, docs_pdf):
    got = textstats.token_stats(docs, "text").toPandas().set_index("doc_id")
    fp = (
        textstats.fingerprint_portable(docs.select("doc_id", "text"))
        .toPandas()
        .set_index("doc_id")["fingerprint"]
    )
    for _, r in docs_pdf.head(30).iterrows():
        toks = r["text"].lower().split()
        g = got.loc[r["doc_id"]]
        assert g["token_count"] == len(toks)
        assert g["uniq_tokens"] == len(set(toks))
        exp_fp = sum(
            (i + 1) * (4861 * len(t) + 31 * ord(t[0]) + ord(t[-1]))
            for i, t in enumerate(toks)
        )
        assert fp.loc[r["doc_id"]] == exp_fp


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a fine day for the cat"),
            (2, "der hund ist nicht mit der katze und der maus zu hause"),
            (3, "xqz 123 !!!"),
        ],
        "doc_id long, text string",
    )
    out = textstats.language_id(textstats.quality_score(df)).toPandas().set_index("doc_id")
    assert out.loc[1, "lang_pred"] == "en"
    assert out.loc[2, "lang_pred"] == "de"
    assert out.loc[3, "lang_pred"] == "und"
    assert out.loc[1, "quality"] > out.loc[3, "quality"]


# ------------------------------------------------------------ multimodal


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, 30)
    feats = multimodal.extract_image_features(media).toPandas()
    assert len(feats) == media.filter(F.col("kind") == "image").count()
    assert all(len(f) == 24 for f in feats["feat"])
    # deterministic: rerun produces identical features
    feats2 = multimodal.extract_image_features(media).toPandas()
    a = feats.sort_values("media_id")["feat"].map(tuple).tolist()
    b = feats2.sort_values("media_id")["feat"].map(tuple).tolist()
    assert a == b
    frames = multimodal.sample_video_frames(media).toPandas()
    assert (frames["frame_ts_ms"] % 1000 == 0).all()
    assert len(frames) > 0


def test_embedding_near_dup_exact_vs_lsh(emb):
    from quickwit_spark.datapipe.dedup import embedding_near_dup_pairs

    exact = embedding_near_dup_pairs(emb, threshold=0.8).toPandas()
    lsh = embedding_near_dup_pairs(emb, threshold=0.8, planes=2).toPandas()
    ek = set(zip(exact["key_a"], exact["key_b"]))
    lk = set(zip(lsh["key_a"], lsh["key_b"]))
    assert lk <= ek  # LSH candidates are a subset of exact pairs
    assert (exact["cosine"] >= 0.8).all()


def test_bpe_token_count(spark):
    from quickwit_spark.datapipe.textstats import bpe_token_count

    df = spark.createDataFrame(
        [(1, "Hello world, it's 2024!"), (2, ""), (3, "a  b")],
        "doc_id long, text string",
    )
    out = bpe_token_count(df).toPandas().set_index("doc_id")["bpe_tokens"]
    # Hello | ' world' | ',' | ' it' | 's (contraction) | ' 2024' | '!'
    assert out.loc[1] == 7
    assert out.loc[2] == 0
    assert out.loc[3] >= 2


def test_lsh_multi_table_amplifies_recall(emb):
    from quickwit_spark.datapipe.similarity import brute_force_topk, lsh_topk

    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    def recall(tables):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_topk(emb, q, k=5, planes=6, tables=tables).collect()
        }
        return len(got & truth) / len(truth)

    r1, r4 = recall(1), recall(4)
    # table 0 is included in the 4-table union ⇒ recall is monotone
    assert r4 >= r1
    assert r4 > 0.1  # OR-amplification must find a real fraction


def test_ivf_topk_recall_monotone_in_nprobe(emb):
    from quickwit_spark.datapipe.similarity import brute_force_topk, ivf_topk

    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    def recall(nprobe):
        out = ivf_topk(emb, q, k=5, nlist=16, nprobe=nprobe)
        rows = out.collect()
        assert set(out.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        return len(got & truth) / len(truth)

    r2, r8 = recall(2), recall(8)
    assert r8 >= r2  # probing more cells can only add candidates
    assert r8 >= 0.5  # half the cells probed ⇒ solid recall even on
    # uniform-random vectors (the hardest case for ANN)


def test_connected_components_and_canonical(spark):
    """Min-label propagation vs a hand-computed component map, incl. a
    3-hop chain (needs >1 propagation round) and an isolated pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "key_a long, key_b long",
    )
    comp = {r["key"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    df = spark.createDataFrame([(k,) for k in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
                               "doc_id long")
    kept = sorted(r["doc_id"] for r in dedup.dedup_canonical(df, pairs).collect())
    assert kept == [1, 10, 20, 99]  # one winner per cluster + unpaired doc


def test_anchor_edges_equal_pair_components(spark, docs):
    """minhash_lsh_edges (O(bucket) star edges) must give the SAME
    connected components as minhash_lsh_pairs (O(bucket²) cliques) for
    the same (bands, rows), with no more edges than pairs — on real
    corpus signatures plus a planted 3-doc near-dup clique."""
    base = docs.limit(60).select("doc_id", "text")
    near = docs.limit(2).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    df = base.unionByName(near)
    sigs = dedup.minhash_signatures(df, "doc_id", num_perm=64).persist()
    pairs = dedup.minhash_lsh_pairs(sigs, "doc_id", bands=16, rows=4)
    edges = dedup.minhash_lsh_edges(sigs, "doc_id", bands=16, rows=4)
    n_pairs, n_edges = pairs.count(), edges.count()
    assert 0 < n_edges <= n_pairs
    cp = {r["key"]: r["component"]
          for r in dedup.connected_components(pairs).collect()}
    ce = {r["key"]: r["component"]
          for r in dedup.connected_components(edges).collect()}
    assert cp == ce
    # every anchor is the min of its own component
    assert all(r["key_a"] < r["key_b"] for r in edges.collect())
    sigs.unpersist()


def test_curate_anchor_mode_matches_pairs_mode(spark, docs):
    """curate(near_dup_mode='anchor') keeps exactly the same documents
    as the pair-clique mode (star edges preserve connectivity)."""
    from quickwit_spark.datapipe.curate import curate

    base = docs.limit(80).select("doc_id", "text")
    dup = docs.limit(10).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    df = base.unionByName(dup)
    kw = dict(redact=False, quality_bounds={"min_stopword_hits": 0,
                                            "min_word_count": 1},
              repetition_thresholds={})
    a = curate(df, near_dup_mode="anchor", **kw)
    p = curate(df, near_dup_mode="pairs", **kw)
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in p.collect()
    )
    with pytest.raises(ValueError, match="anchor"):
        curate(df, near_dup_mode="bogus", **kw)


def test_paragraph_dedup_semantics(spark):
    """RefinedWeb-style paragraph dedup: globally-first occurrence by
    (key, pos) wins, case/trim-normalized matching, within-doc repeats
    removed, fully-deduped and empty docs survive as rows."""
    rows = [
        (0, "alpha beta\n\ngamma delta\n\nalpha beta"),
        (1, "Gamma Delta\n\nunique one"),
        (2, "totally new\n\n\n\nalso new"),
        (3, "alpha beta"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict()
           for r in dedup.paragraph_dedup(df, "doc_id").collect()}
    assert got[0]["text_dedup"] == "alpha beta\n\ngamma delta"
    assert got[0]["n_paras"] == 3 and got[0]["n_paras_kept"] == 2
    # doc 1's "Gamma Delta" is a normalized dup of doc 0's paragraph
    assert got[1]["text_dedup"] == "unique one"
    # multi-blank separators collapse; both paragraphs novel
    assert got[2]["text_dedup"] == "totally new\n\nalso new"
    # fully-duplicated doc stays as a row with empty text
    assert got[3] == {"doc_id": 3, "text_dedup": "", "n_paras": 1,
                      "n_paras_kept": 0}
    assert got[4]["n_paras"] == 0 and got[4]["text_dedup"] == ""
    # normalize=False: case differences survive
    raw = {r["doc_id"]: r["n_paras_kept"]
           for r in dedup.paragraph_dedup(df, "doc_id",
                                          normalize=False).collect()}
    assert raw[1] == 2


def test_decontamination_marks_and_filter(spark):
    """GPT-3-style n-gram decontamination: a doc sharing >= min_hits
    distinct n-grams with the benchmark is flagged; short docs never."""
    from quickwit_spark.datapipe import decontam

    train = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely unrelated training text with novel words only"),
            (2, "quick brown fox jumps over"),  # 5 tokens: < n, never flagged
            (3, "THE QUICK BROWN FOX jumps over everything else entirely"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("eval question: the quick brown fox jumps over the lazy dog",)],
        ["text"],
    )
    marked = {
        r["doc_id"]: r.asDict()
        for r in decontam.contamination_marks(
            train, bench, n=6, min_hits=1
        ).collect()
    }
    assert marked[0]["is_contaminated"]          # full 6-gram overlap
    assert marked[0]["contaminated_ngrams"] >= 4
    assert not marked[1]["is_contaminated"]
    assert not marked[2]["is_contaminated"]      # shorter than n tokens
    # lowercased matching: doc 3 shares 'the quick brown fox jumps over'
    assert marked[3]["contaminated_ngrams"] == 1
    # min_hits raises the bar
    strict = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontam.contamination_marks(
            train, bench, n=6, min_hits=2
        ).collect()
    }
    assert strict[0] and not strict[3]
    kept = {r["doc_id"]
            for r in decontam.decontaminate(train, bench, n=6).collect()}
    assert kept == {1, 2}
    out = decontam.decontaminate(train, bench, n=6)
    assert out.columns == ["doc_id", "text"]


def test_pii_redaction_counts_and_order(spark):
    """Emails first, then IPv4, then phone-like runs — each stage on
    the previous stage's output, counts = actual replacements."""
    from quickwit_spark.datapipe.pii import redact_pii

    rows = [
        (0, "write bob.smith+x@mail.example.org or alice@ex.co now"),
        (1, "server at 10.3.0.45 and 192.168.1.1 responded"),
        (2, "call +1 (555) 010-1234 today"),
        (3, "mixed: a@b.io from 8.8.8.8 call 555-123-4567 end"),
        (4, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert got[0]["n_email"] == 2 and "<EMAIL>" in got[0]["text_redacted"]
    assert "@" not in got[0]["text_redacted"]
    assert got[1]["n_ipv4"] == 2
    assert got[1]["n_phone"] == 0  # IPs redacted before the phone pass
    assert got[2]["n_phone"] == 1
    assert got[2]["text_redacted"] == "call <PHONE> today"
    assert (got[3]["n_email"], got[3]["n_ipv4"], got[3]["n_phone"]) == (1, 1, 1)
    assert got[3]["text_redacted"] == "mixed: <EMAIL> from <IPV4> call <PHONE> end"
    assert got[4]["text_redacted"] == got[4]["text"]
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (0, 0, 0)


def test_token_shard_packing_matches_global_cumsum(spark):
    """Distributed two-pass prefix sum == the single-partition global
    window, at several forced partition counts; straddling docs start
    in the shard where their first token lands."""
    import pandas as pd
    from quickwit_spark.datapipe.packing import pack_token_shards, shard_stats

    rows = [(i, (i * 37) % 90 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    pdf = pd.DataFrame(rows, columns=["doc_id", "tokens"]).sort_values("doc_id")
    pdf["cum_before"] = pdf["tokens"].cumsum() - pdf["tokens"]
    expected = dict(zip(pdf["doc_id"], pdf["cum_before"] // 500))
    for nparts in (1, 3, 7):
        got = {
            r["doc_id"]: r["shard_id"]
            for r in pack_token_shards(
                df, "doc_id", "tokens", 500, num_partitions=nparts
            ).collect()
        }
        assert got == expected, nparts
    packed = pack_token_shards(df, "doc_id", "tokens", 500, num_partitions=3)
    st = {r["shard_id"]: r.asDict() for r in shard_stats(packed, "tokens").collect()}
    assert sum(s["n_docs"] for s in st.values()) == 200
    assert sum(s["n_tokens"] for s in st.values()) == int(pdf["tokens"].sum())
    # nulls count as zero tokens
    df2 = spark.createDataFrame([(0, None), (1, 10)], "doc_id long, tokens long")
    got2 = {r["doc_id"]: r["cum_tokens_before"]
            for r in pack_token_shards(df2, "doc_id", "tokens", 5).collect()}
    assert got2 == {0: 0, 1: 0}


def test_packing_plan_has_no_unpartitioned_window(spark):
    """The two-pass prefix sum must never plan a global (unpartitioned)
    window — that single task is exactly what the operator avoids."""
    import contextlib
    import io
    import re
    from quickwit_spark.datapipe.packing import pack_token_shards

    df = spark.createDataFrame([(i, i % 7 + 1) for i in range(50)],
                               ["doc_id", "tokens"])
    out = pack_token_shards(df, "doc_id", "tokens", 10, num_partitions=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    for m in re.finditer(
        r"windowspecdefinition\((.*?)specifiedwindowframe", buf.getvalue()
    ):
        head = [p.strip() for p in m.group(1).split(",") if p.strip()]
        assert head and not re.search(r"\b(ASC|DESC)\b", head[0]), (
            f"unpartitioned Window: windowspecdefinition({m.group(1)}...)")


def test_curate_pipeline_stages(spark):
    """Composed curation pipeline: each stage removes exactly the doc
    constructed to trip it, PII is scrubbed before content hashing, and
    the default run is one lazy plan returning the input schema."""
    from quickwit_spark.datapipe.curate import curate

    good = ("the data value pipeline of spark and arrow that we have "
            "built with care holds fifty plus words " + " ".join(
                f"w{i}" for i in range(40)))
    rows = [
        (0, good, "https://a.example/p/0"),
        # same text modulo a different email → exact dup AFTER redaction
        (1, good + " contact a@x.io", "https://a.example/p/1"),
        (2, good + " contact b@y.io", "https://a.example/p/2"),
        (3, "tiny doc", "https://a.example/p/3"),             # quality kill
        (4, ("spam " * 60).strip() + " " + good, "https://a.example/p/4"),
        (5, good, "HTTPS://A.EXAMPLE/p/0?utm_source=x"),      # url dup of 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    out, rep = curate(
        df, url_col="url",
        quality_bounds={"min_stopword_hits": 1},
        near_dup=False, with_report=True,
    )
    stages = dict(rep)
    assert stages["input"] == 6
    assert stages["url_dedup"] == 5          # doc 5 is a canonical-URL dup
    assert stages["quality"] < stages["pii_redact"]
    kept = {r["doc_id"] for r in out.collect()}
    assert 0 in kept
    assert 5 not in kept                      # url dup
    assert 3 not in kept                      # quality
    assert 4 not in kept                      # repetition (60x 'spam')
    # docs 1,2 differ from 0 only by redacted emails + the word 'contact'
    # → not exact dups of 0, but 1 vs 2 become byte-identical → one kept
    assert len({1, 2} & kept) == 1
    # default: single DataFrame, input schema
    plain = curate(df, url_col="url",
                   quality_bounds={"min_stopword_hits": 1}, near_dup=False)
    assert plain.columns == ["doc_id", "text", "url"]


def test_pii_ignores_dates_and_newline_runs_and_null(spark):
    """Review regressions: ISO dates and digit runs spanning lines must
    NOT be redacted as phones; NULL text behaves as ''."""
    from quickwit_spark.datapipe.pii import redact_pii

    rows = [
        (0, "released on 2024-01-01 worldwide"),
        (1, "Room 101\n2024 attendees arrived"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert got[0]["text_redacted"] == got[0]["text"]
    assert got[0]["n_phone"] == 0
    assert got[1]["text_redacted"] == got[1]["text"]  # \n never inside a match
    assert got[2]["text_redacted"] == ""
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)


def test_curation_stats_null_text_rows_survive(spark):
    """NULL text = '' across the curation stat families (review fix)."""
    from quickwit_spark.datapipe.gopher_quality import gopher_quality_stats
    from quickwit_spark.datapipe.repetition import repetition_stats

    df = spark.createDataFrame([(0, None), (1, "a b")],
                               "doc_id long, text string")
    r = {x["doc_id"]: x.asDict()
         for x in repetition_stats(df, top_ngrams=(2,), dup_ngrams=()).collect()}
    assert r[0]["dup_line_frac"] == 0.0 and r[0]["top_2gram_char_frac"] == 0.0
    q = {x["doc_id"]: x.asDict() for x in gopher_quality_stats(df).collect()}
    assert q[0]["word_count"] == 0 and q[0]["mean_word_len"] == 0.0
    p = {x["doc_id"]: x.asDict()
         for x in dedup.paragraph_dedup(df, "doc_id").collect()}
    assert p[0] == {"doc_id": 0, "text_dedup": "", "n_paras": 0,
                    "n_paras_kept": 0}


def test_ivfpq_planted_neighbor_and_recall(spark, emb):
    """IVF-PQ: a planted near-duplicate must be retrieved at rank 1
    through the coded path; recall@10 >= 0.85 vs brute force on
    uniform-random unit vectors (with exact re-rank of the ADC
    shortlist); the refine path dominates ADC-only; deterministic."""
    import numpy as np

    base = emb.limit(1).toPandas().iloc[0]
    noisy = np.asarray(base["embedding"], dtype=np.float64)
    noisy = noisy + np.full_like(noisy, 0.01)
    noisy /= np.sqrt((noisy ** 2).sum())
    corpus = emb.select("vec_id", "embedding").union(
        spark.createDataFrame(
            [(999991, [float(x) for x in noisy])],
            "vec_id long, embedding array<double>",
        )
    )
    q = corpus.filter(F.col("vec_id") == 999991)
    res = similarity.ivfpq_topk(
        corpus, q, k=5, nlist=8, nprobe=4, m=16, ksub=16, seed=7, refine=5
    ).toPandas()
    top = res[res["rank"] == 1].iloc[0]
    assert top["neighbor_id"] == base["vec_id"]
    assert top["cosine"] > 0.99

    queries = emb.filter(F.col("vec_id") < 15)
    bf = similarity.brute_force_topk(emb, queries, k=10, rank_round=9).select(
        "query_id", "neighbor_id"
    )
    total = bf.count()

    def recall(**kw):
        r = similarity.ivfpq_topk(emb, queries, k=10, nlist=16, nprobe=12,
                                  seed=7, **kw).select("query_id", "neighbor_id")
        return bf.join(r, ["query_id", "neighbor_id"], "left_semi").count() / total

    r_refined = recall(m=16, ksub=32, refine=10)
    r_adc = recall(m=16, ksub=32, refine=0)
    assert r_refined >= 0.85
    assert r_refined >= r_adc
    # determinism: same seed, same results
    a = similarity.ivfpq_topk(emb, queries, k=5, nlist=16, nprobe=8, m=16,
                              ksub=16, seed=7).toPandas()
    b = similarity.ivfpq_topk(emb, queries, k=5, nlist=16, nprobe=8, m=16,
                              ksub=16, seed=7).toPandas()
    cols = ["query_id", "neighbor_id", "rank"]
    assert a[cols].sort_values(cols).values.tolist() == \
        b[cols].sort_values(cols).values.tolist()


def test_duplicate_span_dedup_semantics(spark):
    """Lee-et-al exact-substring dedup (token-window form): the global
    first occurrence keeps its text, later occurrences lose the merged
    span char-exactly, within-doc repeats are cut, short docs and NULL
    text are untouched."""
    from quickwit_spark.datapipe.span_dedup import (
        duplicate_span_dedup,
        duplicate_span_stats,
    )

    boiler = "this license text is repeated verbatim in many documents exactly"
    rows = [
        (0, f"unique alpha content {boiler} trailing words here"),
        (1, f"other document intro {boiler} and a different ending"),
        (2, f"{boiler} {boiler} double trouble"),
        (3, "completely original text with no duplicated windows at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    st = {r["doc_id"]: r.asDict()
          for r in duplicate_span_stats(df, "doc_id", window=5).collect()}
    # doc 0 holds the first occurrence: marked nowhere
    assert st[0]["n_dup_windows"] == 0 and st[0]["tokens_removed"] == 0
    # boiler = 10 tokens -> 6 marked windows merge into ONE 10-token span
    assert st[1] == {"doc_id": 1, "n_windows": 13, "n_dup_windows": 6,
                     "n_spans_cut": 1, "tokens_removed": 10}
    # both copies in doc 2 are cut (junction windows are unique)
    assert st[2]["tokens_removed"] == 20
    assert st[4] == {"doc_id": 4, "n_windows": 0, "n_dup_windows": 0,
                     "n_spans_cut": 0, "tokens_removed": 0}

    out = {r["doc_id"]: r.asDict()
           for r in duplicate_span_dedup(df, "doc_id", window=5).collect()}
    assert out[0]["text_dedup"] == rows[0][1]          # first copy intact
    assert out[1]["text_dedup"] == "other document intro and a different ending"
    assert out[2]["text_dedup"] == "double trouble"
    assert out[3]["text_dedup"] == rows[3][1]
    assert out[4]["text_dedup"] == ""
    assert out[1]["n_spans_cut"] == 1 and out[1]["tokens_removed"] == 10


def test_curate_text_surgery_stages(spark):
    """Opt-in paragraph-dedup and span-cut stages rewrite text in place
    after the document-level passes."""
    from quickwit_spark.datapipe.curate import curate

    filler = " ".join(f"w{i}" for i in range(60))
    para = "shared paragraph that appears in both documents verbatim"
    rows = [
        (0, f"the of and {filler}\n\n{para}"),
        (1, f"the to with {filler} different\n\n{para}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out, rep = curate(
        df, quality_bounds={"min_stopword_hits": 1},
        repetition_thresholds={"top_2gram_char_frac": 1.0},
        near_dup=False, para_dedup=True, span_window=8,
        with_report=True,
    )
    stages = [s for s, _ in rep]
    assert stages[-2:] == ["para_dedup", "span_dedup"]
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert para in got[0]          # first occurrence keeps the paragraph
    assert para not in got[1]      # later occurrence loses it
    assert got[1].startswith("the to with")


def test_lm_perplexity_quality_ordering(spark, docs):
    """CCNet-style trigram perplexity: identical texts score equally,
    junk scores worse than in-distribution text, short/NULL docs score
    perplexity 1, and self-training is the default."""
    from quickwit_spark.datapipe.lm_quality import lm_perplexity

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),
        (2, "zzqx jjkk wwvv qqpp zzzz"),
        (3, "ab"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train = df.filter(F.col("doc_id") < 2)
    out = {r["doc_id"]: r.asDict() for r in lm_perplexity(df, train).collect()}
    assert out[0]["lp_mean"] == out[1]["lp_mean"]
    assert out[2]["perplexity"] > out[0]["perplexity"]
    assert out[3]["perplexity"] == 1.0 and out[4]["perplexity"] == 1.0
    # self-trained over the real corpus + one junk doc: every real doc
    # must beat the planted junk, and scores are finite
    corpus = docs.select("doc_id", "text").limit(100).union(
        spark.createDataFrame([(999992, "zzqx " * 60)],
                              "doc_id long, text string")
    )
    scored = lm_perplexity(corpus).select("doc_id", "perplexity").toPandas()
    junk_p = scored.loc[scored["doc_id"] == 999992, "perplexity"].iloc[0]
    real = scored[scored["doc_id"] != 999992]["perplexity"]
    assert (real > 1.0).all()
    assert (real < junk_p).all()
    # empty training corpus: formula gives denom 1 -> perplexity 1.0
    empty_train = docs.select("doc_id", "text").limit(0)
    p1 = lm_perplexity(docs.select("doc_id", "text").limit(5), empty_train)
    assert all(r["perplexity"] == 1.0 for r in p1.collect())


def test_curate_lm_perplexity_stage(spark, docs):
    """max_perplexity adds the LM bucket filter between quality and
    repetition, dropping the out-of-distribution doc."""
    from quickwit_spark.datapipe.curate import curate

    base = docs.select("doc_id", "text").limit(60)
    junk = spark.createDataFrame(
        [(999991, "zzqx " * 60)], "doc_id long, text string"
    )
    df = base.union(junk)
    out, rep = curate(
        df, quality_bounds={"min_stopword_hits": 0,
                            "min_alpha_word_frac": 0.0,
                            "min_mean_word_len": 1.0},
        repetition_thresholds={"top_2gram_char_frac": 1.0,
                               "dup_5gram_char_frac": 1.0,
                               "dup_6gram_char_frac": 1.0,
                               "dup_7gram_char_frac": 1.0,
                               "dup_8gram_char_frac": 1.0,
                               "dup_9gram_char_frac": 1.0,
                               "dup_10gram_char_frac": 1.0},
        max_perplexity=1000.0, lm_train=base,
        near_dup=False, with_report=True,
    )
    stages = dict(rep)
    assert "lm_quality" in stages
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 999991 not in kept
    assert len(kept) > 0


def test_sq8_quantization_recall_and_roundtrip(spark, emb):
    """SQ8: codes land in [0,255]; dequantized brute force agrees with
    exact brute force on >=9/10 of top-10 on unit-random vectors
    (quantization error is tiny at 8 bits over a bounded range)."""
    from quickwit_spark.datapipe.similarity import (
        brute_force_topk, sq8_quantize, sq8_topk,
    )

    enc, (mn, mx) = sq8_quantize(emb)
    stats = enc.select(
        F.min(F.array_min("sq8")), F.max(F.array_max("sq8"))
    ).first()
    assert stats[0] >= 0 and stats[1] <= 255
    assert mn < 0 < mx  # unit-normalized random components straddle 0

    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, q, k=10, rank_round=9).select(
        "query_id", "neighbor_id"
    )
    approx = sq8_topk(emb, q, k=10, rank_round=9).select(
        "query_id", "neighbor_id"
    )
    total = exact.count()
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits / total >= 0.9


def test_pack_sequences_covers_and_chunks(spark):
    from quickwit_spark.datapipe.packing import pack_sequences

    rows = [(i, (i * 37) % 90 + 1) for i in range(1, 60)] + [(60, 0), (61, None)]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    L = 100
    spans = pack_sequences(df, "doc_id", "tokens", seq_len=L,
                           num_partitions=3).collect()
    n_by_doc = {i: max(t or 0, 0) for i, t in rows}
    # 1) per doc: spans concatenate to exactly [0, n)
    per_doc = {}
    for r in spans:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == {i for i, _ in rows if n_by_doc[i] > 0}
    for d, rs in per_doc.items():
        rs.sort(key=lambda r: r["doc_tok_start"])
        assert rs[0]["doc_tok_start"] == 0
        assert rs[-1]["doc_tok_end"] == n_by_doc[d]
        for a, b in zip(rs, rs[1:]):
            assert a["doc_tok_end"] == b["doc_tok_start"]
    # 2) per sequence: spans tile [0, L) exactly (last sequence ragged)
    per_seq = {}
    for r in spans:
        per_seq.setdefault(r["seq_id"], []).append(r)
    total = sum(n_by_doc.values())
    last_seq = (total - 1) // L
    for s, rs in per_seq.items():
        rs.sort(key=lambda r: r["seq_pos_start"])
        assert rs[0]["seq_pos_start"] == 0
        pos = 0
        for r in rs:
            assert r["seq_pos_start"] == pos
            pos += r["doc_tok_end"] - r["doc_tok_start"]
        assert pos == (L if s < last_seq else total - last_seq * L)
    # 3) equals a single-partition run (partitioning-invariant)
    one = pack_sequences(df, "doc_id", "tokens", seq_len=L,
                         num_partitions=1).collect()
    assert sorted(map(tuple, spans)) == sorted(map(tuple, one))


def test_pack_sequences_rejects_bad_len(spark):
    import pytest as _pytest
    from quickwit_spark.datapipe.packing import pack_sequences

    df = spark.createDataFrame([(1, 5)], ["doc_id", "tokens"])
    with _pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "tokens", seq_len=0)


def test_image_codecs_roundtrip_and_goldens():
    """Pure-numpy image codecs: PPM/BMP round-trips are bit-exact
    (incl. BMP row padding when width % 4 != 0), grayscale P5 and the
    ASCII forms decode, hand-written golden bytes parse, and malformed
    payloads error instead of fabricating pixels."""
    import numpy as np
    import pytest as _pytest

    from quickwit_spark.datapipe.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
        gradient_image,
    )

    for w, h in [(1, 1), (5, 3), (7, 2), (16, 10)]:  # 5,7: padded BMP rows
        img = gradient_image(9, w, h)
        assert (decode_image(encode_ppm(img)) == img).all()
        assert (decode_image(encode_bmp(img)) == img).all()

    # golden ASCII P2 (grayscale, comment line) and P3
    p2 = b"P2\n# a comment\n2 2\n255\n0 64\n128 255\n"
    g = decode_image(p2)
    assert g.shape == (2, 2, 3)
    assert (g[..., 0] == [[0, 64], [128, 255]]).all()
    assert (g[..., 0] == g[..., 1]).all() and (g[..., 0] == g[..., 2]).all()
    p3 = b"P3 2 1 255 1 2 3 4 5 6"
    assert decode_image(p3).tolist() == [[[1, 2, 3], [4, 5, 6]]]
    # binary P5 grayscale replicates to 3 channels
    p5 = b"P5\n2 1\n255\n" + bytes([10, 200])
    assert decode_image(p5).tolist() == [[[10, 10, 10], [200, 200, 200]]]

    with _pytest.raises(ValueError):
        decode_image(b"GIF89a....")
    with _pytest.raises(ValueError):
        decode_image(b"P6\n4 4\n255\n\x00\x01")  # truncated raster
    with _pytest.raises(ValueError):
        decode_image(b"P6\n2 2\n65535\n" + b"\x00" * 24)  # 16-bit maxval
    with _pytest.raises(ValueError):
        decode_image(encode_bmp(gradient_image(1, 2, 2))[:30])  # cut header


def test_wav_truncated_chunk_raises():
    """A chunk whose declared size runs past the end of the payload is
    malformed input: decode_wav raises like the image codecs' truncation
    paths instead of decoding the partial audio."""
    import pytest as _pytest

    from quickwit_spark.datapipe.multimodal import (
        decode_wav,
        encode_wav,
        gradient_audio,
    )

    wav = encode_wav(gradient_audio(3, 64), 8000)
    decode_wav(wav)  # intact
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(wav[:-10])  # data chunk cut short
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(wav[:30])  # fmt chunk cut short


def test_image_channel_sums_match_closed_form(spark):
    """image_channel_sums over real encoded payloads equals the
    gradient's closed form: sum_ch = Σ_{j≡ch (3)} (7*id + j) % 256."""
    from quickwit_spark.datapipe import multimodal

    media = multimodal.synthesize_media(spark, 12)
    out = (
        multimodal.image_channel_sums(media)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    import numpy as np

    for mid in out.index:
        w, h = mid % 64 + 16, mid % 48 + 16
        j = np.arange(w * h * 3, dtype=np.int64)
        v = (mid * 7 + j) % 256
        assert out.loc[mid, "n_px"] == w * h
        assert out.loc[mid, "sum_r"] == v[j % 3 == 0].sum()
        assert out.loc[mid, "sum_g"] == v[j % 3 == 1].sum()
        assert out.loc[mid, "sum_b"] == v[j % 3 == 2].sum()


def test_wav_codec_roundtrip_and_goldens():
    """RIFF/WAVE codec: bit-exact round-trips (mono/stereo, odd
    lengths), chunk-walking past LIST chunks with RIFF pad bytes,
    8-bit rescale, and loud errors on malformed payloads."""
    import struct

    import numpy as np
    import pytest as _pytest

    from quickwit_spark.datapipe.multimodal import (
        decode_wav,
        encode_wav,
        gradient_audio,
    )

    for n in (1, 7, 256):
        mono = gradient_audio(5, n)
        got, rate = decode_wav(encode_wav(mono, 8000))
        assert rate == 8000 and (got[:, 0] == mono).all()
    stereo = np.stack([gradient_audio(1, 33), gradient_audio(2, 33)], axis=1)
    got, rate = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100 and got.shape == (33, 2) and (got == stereo).all()

    # hand-built WAV with a LIST chunk (odd size → pad byte) before data
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = np.array([100, -100, 32767], "<i2").tobytes()
    wav = (b"RIFF" + struct.pack("<I", 0) + b"WAVE"
           + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    got, rate = decode_wav(wav)
    assert got[:, 0].tolist() == [100, -100, 32767]

    # 8-bit unsigned rescales to centered int16
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav8 = (b"RIFF" + struct.pack("<I", 0) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
            + b"data" + struct.pack("<I", 3) + bytes([0, 128, 255]))
    got, _ = decode_wav(wav8)
    assert got[:, 0].tolist() == [-32768, 0, 32512]

    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + b"\x00" * 40)  # wrong magic
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no chunks
    # float WAV (format 3) unsupported → loud error
    fmtf = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    wavf = (b"RIFF" + struct.pack("<I", 0) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmtf)) + fmtf
            + b"data" + struct.pack("<I", 0) + b"")
    with _pytest.raises(ValueError):
        decode_wav(wavf)


def test_audio_stats_match_closed_form(spark):
    """audio_stats over real WAV payloads equals the gradient signal's
    closed form: sum_abs = Σ|((13·id + 7j) % 4001) − 2000|."""
    import numpy as np

    from quickwit_spark.datapipe import multimodal

    media = multimodal.synthesize_media(spark, 12)
    out = (
        multimodal.audio_stats(media)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    assert len(out) == 4  # ids 1, 4, 7, 10 are audio (id % 3 == 1)
    for mid in out.index:
        n = mid % 500 + 50
        sig = np.abs(
            ((mid * 13 + np.arange(n, dtype=np.int64) * 7) % 4001 - 2000)
        )
        assert out.loc[mid, "n_samples"] == n
        assert out.loc[mid, "sample_rate"] == 8000
        assert out.loc[mid, "n_channels"] == 1
        assert out.loc[mid, "sum_abs"] == sig.sum()
        assert out.loc[mid, "max_abs"] == sig.max()
