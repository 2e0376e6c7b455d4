"""Webtext pipeline tranche 2: PII redaction, Gopher/C4 quality
filter, stratified sampling, paragraph dedup, BM25 + inverted index.

Each operator's catalog query is gate-scored against a DuckDB oracle
(tools/check_queries.py); these tests pin the SEMANTICS on hand-built
edge cases the synthetic corpus can't exercise.
"""

import math

import pytest
from pyspark.sql import functions as F


def test_redact_pii_classes_and_sequence(spark):
    from geos_spark.operators.pii import redact_pii

    rows = [
        (1, "mail a.b+c@ex-am.ple.org and 10.0.0.1 now"),
        (2, "ssn 123-45-6789 phone 555-123-4567 plain"),
        (3, "no pii here at all"),
        (4, "two mails x@y.zw and w@v.uk"),
        # ip then ssn-shaped digits inside a phone — sequential
        # contract: ip redacted first, ssn before phone
        (5, "999.999.999.999 and 111-22-3333"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in redact_pii(df).collect()
    }
    assert out[1]["n_email"] == 1 and out[1]["n_ip"] == 1
    assert "<EMAIL>" in out[1]["text_redacted"]
    assert "<IP>" in out[1]["text_redacted"]
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "ssn <SSN> phone <PHONE> plain"
    assert out[3]["text_redacted"] == "no pii here at all"
    assert sum(out[3][c] for c in ("n_email", "n_ip", "n_ssn", "n_phone")) == 0
    assert out[4]["n_email"] == 2
    assert out[5]["n_ip"] == 1 and out[5]["n_ssn"] == 1


def test_gopher_rules_edges(spark):
    from geos_spark.operators.text import gopher_rules

    rows = [
        (1, "the and of to in is was for good text here all fine"),
        (2, "short"),  # fails r_words (min 5)
        (3, "pharmacological internationalization " * 5),  # long words
        (4, "the of # # # # is to"),  # symbol-heavy
        (5, "the of javascript is to in here now"),  # blocklist
        (6, "zz qq ww ee rr tt yy uu"),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["r_words"] is False and out[2]["keep"] is False
    assert out[3]["r_mean_len"] is False
    assert out[4]["r_symbols"] is False
    assert out[5]["r_blocklist"] is False
    assert out[6]["r_stopwords"] is False


def test_stratified_sample_determinism(spark):
    from geos_spark.operators.sampling import stratified_sample

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("xx")
        .alias("lang"),
    )
    frac = {"en": 0.5, "de": 0.1}
    a = stratified_sample(df, frac, salt="t")
    b = stratified_sample(df.repartition(17), frac, salt="t")
    ids_a = {r["doc_id"] for r in a.collect()}
    ids_b = {r["doc_id"] for r in b.collect()}
    # partitioning-invariant
    assert ids_a == ids_b
    by_lang = {
        r["lang"]: r["n"]
        for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # en ~ 0.5 * 1334, de ~ 0.1 * 1333, default 0 for 'xx'
    assert 520 <= by_lang["en"] <= 810
    assert 60 <= by_lang["de"] <= 220
    assert "xx" not in by_lang
    # independent salts draw different sets
    c = stratified_sample(df, frac, salt="u")
    assert {r["doc_id"] for r in c.collect()} != ids_a


def test_paragraph_dedup_first_occurrence(spark):
    from geos_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "shared\nuniq1"),
        (2, "shared\nuniq2\nshared"),  # in-doc repeat also deduped
        (3, "shared"),  # fully boilerplate -> empty
        (4, "uniq4\nshared"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["clean_text"] == "shared\nuniq1"
    assert out[1]["n_paras"] == 2 and out[1]["n_paras_kept"] == 2
    assert out[2]["clean_text"] == "uniq2"
    assert out[2]["n_paras"] == 3 and out[2]["n_paras_kept"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_paras_kept"] == 0
    assert out[4]["clean_text"] == "uniq4"


def test_bm25_closed_form(spark):
    from geos_spark.operators.ranking import bm25_scores

    rows = [
        (1, "cat dog cat"),
        (2, "dog bird"),
        (3, "fish fish fish"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r for r in bm25_scores(df, ["cat", "dog"]).collect()
    }
    n, avgdl = 3, (3 + 2 + 3) / 3.0
    k1, b = 1.2, 0.75

    def idf(dft):
        return math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)

    def part(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = idf(1) * part(2, 3) + idf(2) * part(1, 3)
    exp2 = idf(2) * part(1, 2)
    assert out[1]["n_hits"] == 2
    assert out[1]["score"] == pytest.approx(exp1, rel=1e-12)
    assert out[2]["score"] == pytest.approx(exp2, rel=1e-12)
    assert 3 not in out
    # higher-tf doc with equal dl outranks
    assert out[1]["score"] > out[2]["score"]


def test_inverted_index_postings(spark):
    from geos_spark.operators.ranking import inverted_index

    df = spark.createDataFrame(
        [(1, "a b a c a"), (2, "c a")], "doc_id int, text string"
    )
    out = {
        (r["term"], r["doc_id"]): r
        for r in inverted_index(df).collect()
    }
    assert out[("a", 1)]["tf"] == 3
    assert out[("a", 1)]["first_pos"] == 0
    assert out[("a", 1)]["last_pos"] == 4
    assert out[("c", 2)]["first_pos"] == 0
    assert out[("a", 2)]["tf"] == 1
    assert len(out) == 5


def test_decontaminate_flags(spark):
    from geos_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "unrelated words entirely different here now"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon yy")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, k=5).collect()
    }
    # doc 1 shares the 5-gram "alpha beta gamma delta epsilon"
    assert out[1]["contaminated"] == 1 and out[1]["n_contam"] == 1
    assert out[2]["contaminated"] == 0
    assert out[3]["contaminated"] == 0
    assert out[4]["contaminated"] == 0 and out[4]["n_grams"] == 0
    assert out[1]["n_grams"] == 2  # 6 words -> two 5-grams


def test_char_entropy_closed_form(spark):
    import math

    from geos_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, ""), (4, "aabb")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["e"]
        for r in df.select(
            "doc_id", char_entropy(F.col("text")).alias("e")
        ).collect()
    }
    assert out[1] == pytest.approx(0.0)
    assert out[2] == pytest.approx(math.log(2), rel=1e-12)
    assert out[3] == pytest.approx(0.0)
    assert out[4] == pytest.approx(math.log(2), rel=1e-12)


def test_extract_links_and_host(spark):
    from geos_spark.operators.links import extract_links, host_edges

    pages = spark.createDataFrame(
        [
            (
                "https://a.ex/p/1",
                bytearray(
                    b'<html><body>x <a href="https://b.ex/q">t</a>'
                    b'<a href="https://a.ex/p/2">u</a></body></html>'
                ),
            ),
            ("https://c.ex/", bytearray(b"<html><body>none</body></html>")),
        ],
        "url string, html binary",
    )
    links = extract_links(pages).collect()
    assert {(r["src_url"], r["dst_url"]) for r in links} == {
        ("https://a.ex/p/1", "https://b.ex/q"),
        ("https://a.ex/p/1", "https://a.ex/p/2"),
    }
    he = {
        (r["src_host"], r["dst_host"]): r["weight"]
        for r in host_edges(extract_links(pages)).collect()
    }
    # self-loop a.ex -> a.ex dropped
    assert he == {("a.ex", "b.ex"): 1}


def test_pagerank_closed_form(spark):

    from geos_spark.operators.links import pagerank

    # 3-node graph: a->b, a->c, b->c, c->a
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "src_host string, dst_host string",
    )
    got = {
        r["host"]: r["rank"]
        for r in pagerank(edges, iterations=4).collect()
    }
    hosts = ["a", "b", "c"]
    out = {"a": ["b", "c"], "b": ["c"], "c": ["a"]}
    r = {h: 1 / 3 for h in hosts}
    for _ in range(4):
        nxt = {}
        for h in hosts:
            mass = sum(
                r[u] / len(out[u]) for u in hosts if h in out[u]
            )
            nxt[h] = 0.15 / 3 + 0.85 * mass
        r = nxt
    for h in hosts:
        assert got[h] == pytest.approx(r[h], rel=1e-12), h
    assert abs(sum(got.values()) - 1.0) < 0.25  # mass roughly conserved


def test_pack_shards_prefix_sum(spark):
    from geos_spark.operators.sampling import pack_shards

    df = spark.createDataFrame(
        [(i, 10 * (i % 3 + 1)) for i in range(100)],
        "doc_id int, n_tokens int",
    )
    out = pack_shards(
        df, 25, size_col="n_tokens", order_col="doc_id", num_ranges=7
    ).collect()
    got = {r["doc_id"]: r for r in out}
    run = 0
    for i in range(100):
        r = got[i]
        assert r["global_offset"] == run, i
        assert r["shard_id"] == run // 25
        assert r["shard_offset"] == run % 25
        run += 10 * (i % 3 + 1)
    # partitioning-count invariance
    out2 = pack_shards(
        df.repartition(13), 25, size_col="n_tokens",
        order_col="doc_id", num_ranges=3,
    ).collect()
    assert {r["doc_id"]: r["global_offset"] for r in out2} == {
        r["doc_id"]: r["global_offset"] for r in out
    }


def test_crawl_delta_statuses(spark):
    from geos_spark.operators.crawl import crawl_delta

    old = spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "z")], "url string, text string"
    )
    new = spark.createDataFrame(
        [("a", "x"), ("b", "Y2"), ("d", "w")], "url string, text string"
    )
    out = {r["url"]: r["status"] for r in crawl_delta(old, new).collect()}
    assert out == {
        "a": "unchanged",
        "b": "changed",
        "c": "removed",
        "d": "added",
    }


def test_streaming_pii_incremental(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F811

    from geos_spark.streaming import (
        run_stream_to_memory,
        streaming_pii_scrub,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "mail a@b.cd here")], "doc_id int, text string"
    ).write.parquet(src)
    spark.createDataFrame(
        [(2, "clean row")], "doc_id int, text string"
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, q = run_stream_to_memory(
        streaming_pii_scrub(s), spark, output_mode="append"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_email"] == 1
    assert rows[1]["text_redacted"] == "mail <EMAIL> here"
    assert rows[2]["n_email"] == 0
    # incremental: more than one micro-batch under maxFilesPerTrigger=1
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2


def test_zipf_fit_synthetic(spark):
    import math

    from geos_spark.operators.ranking import zipf_fit

    # construct a corpus whose term counts are exactly c_r = 2^(8-r):
    # ln c = 8 ln 2 - (ln 2 / ln r) ... not linear in ln r, so instead
    # check a perfect power law c_r = 1024 / r for r = 1..8
    rows = []
    did = 0
    for r in range(1, 9):
        cnt = 1024 // r
        for _ in range(cnt):
            rows.append((did, f"w{r:02d}"))
            did += 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = zipf_fit(df, top_k=8).collect()[0]
    assert out["n_terms"] == 8
    # counts 1024//r are near-exactly 1024/r -> slope ~ -1
    assert out["slope"] == pytest.approx(-1.0, abs=0.01)
    assert out["r2"] > 0.999
    assert math.exp(out["intercept"]) == pytest.approx(1024, rel=0.02)


def test_hits_closed_form(spark):
    import math

    from geos_spark.operators.links import hits

    # star: h1..h3 all link to "center"; center links to h1
    edges = spark.createDataFrame(
        [("h1", "c"), ("h2", "c"), ("h3", "c"), ("c", "h1")],
        "src_host string, dst_host string",
    )
    got = {
        r["host"]: r for r in hits(edges, iterations=2).collect()
    }
    # replicate: hub0=1 for all
    hub = {h: 1.0 for h in ("h1", "h2", "h3", "c")}
    out = {"h1": ["c"], "h2": ["c"], "h3": ["c"], "c": ["h1"]}
    auth = {}
    for _ in range(2):
        auth = {}
        for u, vs in out.items():
            for v in vs:
                auth[v] = auth.get(v, 0.0) + hub[u]
        n = math.sqrt(sum(v * v for v in auth.values()))
        auth = {k: v / n for k, v in auth.items()}
        hub = {}
        for u, vs in out.items():
            s = sum(auth.get(v, 0.0) for v in vs)
            if s:
                hub[u] = s
        n = math.sqrt(sum(v * v for v in hub.values()))
        hub = {k: v / n for k, v in hub.items()}
    for h in ("h1", "h2", "h3", "c"):
        assert got[h]["hub"] == pytest.approx(hub.get(h, 0.0), abs=1e-12)
        assert got[h]["authority"] == pytest.approx(
            auth.get(h, 0.0), abs=1e-12
        )
    # the center is the authority; the pure hubs out-hub it
    assert got["c"]["authority"] > got["h1"]["authority"]
    assert got["h1"]["hub"] > got["c"]["hub"]


def test_label_propagation_two_cliques(spark):
    from geos_spark.operators.links import label_propagation

    # two triangles joined by one weak bridge
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    edges = spark.createDataFrame(
        tri1 + tri2 + bridge, "src_host string, dst_host string"
    )
    out = {
        r["host"]: r["label"]
        for r in label_propagation(edges, iterations=4).collect()
    }
    assert len(out) == 6
    # each triangle converges to one label; labels are node ids
    assert out["a"] == out["b"]
    assert out["x"] == out["y"] == out["z"]


def test_anchor_text_extraction(spark):
    from geos_spark.operators.links import (
        anchor_text_index,
        extract_anchor_texts,
    )

    pages = spark.createDataFrame(
        [
            (
                "https://a.ex/1",
                bytearray(
                    b'x <a href="https://t.ex/p">great page</a> y'
                    b'<a href="https://t.ex/p">great page</a>'
                    b'<a href="https://u.ex/q">other</a>'
                ),
            ),
            (
                "https://b.ex/2",
                bytearray(b'<a href="https://t.ex/p">great page</a>'),
            ),
        ],
        "url string, html binary",
    )
    ext = extract_anchor_texts(pages).collect()
    assert len(ext) == 4
    idx = {
        (r["dst_url"], r["anchor"]): (r["n_links"], r["n_hosts"])
        for r in anchor_text_index(extract_anchor_texts(pages)).collect()
    }
    assert idx[("https://t.ex/p", "great page")] == (3, 2)
    assert idx[("https://u.ex/q", "other")] == (1, 1)


def _pr_ref(out, n_iter, d=0.85, weights=None, p=None, r0=None):
    """Pure-python PageRank mirror of the operator's semantics."""
    hosts = sorted(set(out) | {v for vs in out.values() for v in vs})
    N = len(hosts)
    if p is None:
        p = {h: 1.0 / N for h in hosts}
    r = dict(r0) if r0 is not None else dict(p)
    for h in hosts:
        r.setdefault(h, p.get(h, 0.0))
    for _ in range(n_iter):
        nxt = {}
        for h in hosts:
            mass = 0.0
            for u in hosts:
                if h in out.get(u, []):
                    if weights:
                        wtot = sum(weights[(u, v)] for v in out[u])
                        mass += r[u] * weights[(u, h)] / wtot
                    else:
                        mass += r[u] / len(out[u])
            nxt[h] = (1 - d) * p.get(h, 0.0) + d * mass
        r = nxt
    return r


def test_pagerank_weighted_closed_form(spark):
    from geos_spark.operators.links import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5)],
        "src_host string, dst_host string, weight int",
    )
    got = {
        r["host"]: r["rank"]
        for r in pagerank(
            edges, iterations=4, weight_col="weight"
        ).collect()
    }
    out = {"a": ["b", "c"], "b": ["c"], "c": ["a"]}
    w = {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 2, ("c", "a"): 5}
    ref = _pr_ref(out, 4, weights=w)
    for h, v in ref.items():
        assert got[h] == pytest.approx(v, rel=1e-12), h
    # weight skew must matter: b gets 3/4 of a's mass, c only 1/4 of
    # a's (plus all of b's) — differs from the unweighted fixpoint
    unw = _pr_ref(out, 4)
    assert abs(got["b"] - unw["b"]) > 1e-3


def test_pagerank_personalized_teleport(spark):
    from geos_spark.operators.links import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src_host string, dst_host string",
    )
    seeds = spark.createDataFrame(
        [("a", 1.0)], "host string, p double"
    )
    got = {
        r["host"]: r["rank"]
        for r in pagerank(edges, iterations=5, teleport=seeds).collect()
    }
    out = {"a": ["b"], "b": ["c"], "c": ["a", "d"], "d": ["a"]}
    ref = _pr_ref(out, 5, p={"a": 1.0})
    for h, v in ref.items():
        assert got[h] == pytest.approx(v, rel=1e-12), h
    # teleport mass enters only at a, so d (fed only by c's split)
    # trails b (fed by all of a's out-mass); non-seed base term is 0
    assert got["b"] > got["d"] > 0.0


def test_pagerank_incremental_warm_start(spark):
    from geos_spark.operators.links import pagerank, pagerank_incremental

    base = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")],
        "src_host string, dst_host string",
    )
    r_base = pagerank(base, iterations=3)
    # delta: node d appears, pointing at a and pointed at by c
    grown = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src_host string, dst_host string",
    )
    got = {
        r["host"]: r["rank"]
        for r in pagerank_incremental(
            grown, r_base, iterations=2
        ).collect()
    }
    out0 = {"a": ["b"], "b": ["c"], "c": ["a"]}
    r0 = _pr_ref(out0, 3)
    out1 = {"a": ["b"], "b": ["c"], "c": ["a", "d"], "d": ["a"]}
    # new node d seeds at uniform 1/4 of the GROWN graph
    seed = dict(r0)
    seed["d"] = 1.0 / 4
    ref = _pr_ref(out1, 2, r0=seed)
    for h, v in ref.items():
        assert got[h] == pytest.approx(v, rel=1e-12), h
    # warm-start advantage needs a delta SMALL relative to the graph
    # (the toy 3->4-node graph above perturbs half the mass, where a
    # cold start can win); on a 30-node graph +1 node the prior ranks
    # are near the new fixpoint and 2 warm iterations must beat 2 cold
    # hub-skewed: every node also points at h0, so the fixpoint is
    # far from uniform and a cold uniform start is genuinely behind
    n = 30
    # dedupe: h29's ring successor IS h0, so its hub edge would be a
    # duplicate — the python mirror's membership test counts an edge
    # once while the engine (correctly) counts multi-edges
    out_b = {
        f"h{i}": sorted({f"h{(i + 1) % n}", "h0"}) for i in range(1, n)
    }
    out_b["h0"] = ["h1"]
    rb = _pr_ref(out_b, 12)
    out_g = dict(out_b)
    out_g["hx"] = ["h0"]
    out_g["h5"] = out_b["h5"] + ["hx"]
    seed = dict(rb)
    seed["hx"] = 1.0 / (n + 1)
    fix = _pr_ref(out_g, 80)
    warm = _pr_ref(out_g, 2, r0=seed)
    cold = _pr_ref(out_g, 2)
    warm_err = sum(abs(warm[h] - fix[h]) for h in fix)
    cold_err = sum(abs(cold[h] - fix[h]) for h in fix)
    assert warm_err < cold_err
    # and the engine reproduces the same warm trajectory on that graph
    eb = spark.createDataFrame(
        [(u, v) for u, vs in out_b.items() for v in vs],
        "src_host string, dst_host string",
    )
    eg = spark.createDataFrame(
        [(u, v) for u, vs in out_g.items() for v in vs],
        "src_host string, dst_host string",
    )
    got2 = {
        r["host"]: r["rank"]
        for r in pagerank_incremental(
            eg, pagerank(eb, iterations=12), iterations=2
        ).collect()
    }
    for h, v in warm.items():
        assert got2[h] == pytest.approx(v, rel=1e-9), h


def test_bfs_depth_min_hop_semantics(spark):
    from geos_spark.operators.links import bfs_depth

    # a->b->c->d chain plus a shortcut a->c: c must be depth 1 via the
    # shortcut, not 2 via b; e is unreachable within the cap; seed x
    # is isolated but still reported at depth 0
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "e"), ("x", "a")],
        "src_host string, dst_host string",
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "host string")
    got = {
        r["host"]: r["depth"]
        for r in bfs_depth(edges, seeds, max_depth=2).collect()
    }
    assert got == {"a": 0, "x": 0, "b": 1, "c": 1, "d": 2}
    # early exit: depth cap far above the graph's diameter terminates
    got_full = {
        r["host"]: r["depth"]
        for r in bfs_depth(edges, seeds, max_depth=50).collect()
    }
    assert got_full["e"] == 3 and len(got_full) == 6


def test_host_components_two_islands(spark):
    from geos_spark.operators.links import host_components

    # two islands: {a,b,c} (directed chain + back edge) and {x,y};
    # direction must be ignored (weak connectivity)
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x")],
        "src_host string, dst_host string",
    )
    got = {
        r["host"]: r["component"]
        for r in host_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_remove_dup_ngrams_surgical(spark):
    """ExactSubstr removal semantics on hand-built cases: cross-doc
    dup spans cut, within-doc repeats cut, overlapping spans merged,
    short/NULL/whitespace docs pass through."""
    from geos_spark.operators.dedup import remove_dup_ngrams

    rows = [
        (1, "the quick brown fox jumps over unique alpha"),
        (2, "the quick brown fox sleeps under unique beta"),
        # within-doc repeated trigram "a b c"
        (3, "a b c x y z a b c"),
        (4, "totally singular content here"),
        (5, "xy zz"),          # shorter than n: untouched
        (6, None),
        (7, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r for r in remove_dup_ngrams(df, n=3).collect()
    }
    # docs 1/2 share "the quick brown" and "quick brown fox":
    # covered words 0..3 cut from both
    assert out[1]["clean_text"] == "jumps over unique alpha"
    assert out[1]["n_words"] == 8 and out[1]["n_removed"] == 4
    assert out[2]["clean_text"] == "sleeps under unique beta"
    # doc 3: "a b c" occurs twice (pos 0 and 6) -> both spans cut
    assert out[3]["clean_text"] == "x y z"
    assert out[3]["n_removed"] == 6
    assert out[4]["clean_text"] == "totally singular content here"
    assert out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "xy zz" and out[5]["n_removed"] == 0
    assert out[6]["clean_text"] is None and out[6]["n_words"] == 0
    assert out[7]["clean_text"] is None and out[7]["n_words"] == 0


def test_remove_dup_ngrams_full_cut(spark):
    """A fully-duplicated doc collapses to the empty string."""
    from geos_spark.operators.dedup import remove_dup_ngrams

    rows = [(1, "copy pasta page"), (2, "copy pasta page")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in remove_dup_ngrams(df, n=3).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 3
    assert out[2]["clean_text"] == ""
