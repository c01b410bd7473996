"""Property tests for the round-4 fifth/sixth-pass contract queries.

Oracle parity fixes cross-engine semantics; these pin the SEMANTIC
properties a refactor could silently break while staying self-consistent
on both sides (both engines drifting together would pass the oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _q(name):
    from pdf_extractor_spark.queries import all_queries

    return all_queries()[name]


def test_shard_manifest_partitions_corpus(spark):
    """Buckets partition the corpus exactly: doc counts and byte masses
    sum to the table totals, and the additive checksum equals the sum of
    per-doc contributions computed independently (order-invariance)."""
    man = _q("a_shard_manifest")(spark, SF).collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    tot = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("b")
    ).first()
    assert sum(r["doc_count"] for r in man) == tot["n"]
    assert sum(r["bytes_in"] for r in man) == tot["b"]
    chk = d.select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ck:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("c")
    ).agg(F.sum("c")).first()[0]
    assert sum(r["chk_sum"] for r in man) == chk


def test_redirect_resolve_matches_iterative(spark):
    """Pointer doubling must equal naive hop-at-a-time resolution."""
    rows = _q("u_redirect_resolve")(spark, SF).collect()
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    }

    def nxt(i):
        # off-corpus targets are terminal (the operator's left-join rule)
        return i + 1 if i % 8 in (0, 1, 2, 3) and i in ids else i

    for r in rows:
        u, hops = r["src"], 0
        while nxt(u) != u:
            u, hops = nxt(u), hops + 1
        assert r["final_dst"] == u, r
        assert r["n_hops"] == hops, r
        assert r["is_terminal"] == (hops == 0), r
    assert {r["src"] for r in rows} == ids


def test_quantile_histogram_brackets_exact(spark):
    """Histogram estimates must bracket the exact quantile within one
    bin width (the sketch's stated error bound)."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    vals = sorted(r["n_chars"] for r in d.select("n_chars").collect())
    lo, hi, n = vals[0], vals[-1], len(vals)
    width = (hi - lo + 1) / 256
    for r in _q("a_quantile_histogram")(spark, SF).collect():
        target = -(-r["pct"] * n // 100)  # ceil
        exact = vals[target - 1]
        assert r["target_rank"] == target
        assert r["est_value"] >= exact - 1, (r, exact)
        assert r["est_value"] - exact <= width + 1, (r, exact, width)
        assert r["cum_count"] >= target


def test_sentence_split_substrings(spark):
    """Every sentence is a contiguous substring of its document (the
    splitter removes only inter-sentence whitespace), non-empty, and
    sentinel-free."""
    d = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    out = _q("t_sentence_split")(spark, SF).collect()
    assert out
    for r in out[:2000]:
        s = r["sentence"]
        assert s.strip() != ""
        assert chr(1) not in s
        assert s in d[r["doc_id"]], (r["doc_id"], s[:60])


def test_packing_efficiency_conserves_tokens(spark):
    """Per-language token mass in the efficiency rollup must equal the
    packed table's, and sequence counts must match distinct seq_ids."""
    packed = _q("m_pack_sequences")(spark, SF)
    want = {
        r["lang"]: (r["t"], r["s"])
        for r in packed.groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("t"),
            F.countDistinct("seq_id").alias("s"),
        )
        .collect()
    }
    for r in _q("m_packing_efficiency")(spark, SF).collect():
        t, s = want[r["lang"]]
        assert r["total_tokens"] == t
        assert r["n_seqs"] == s
        assert r["overflow_tokens"] >= 0


def test_lsh_recall_counts_consistent(spark):
    """Hits can never exceed either side; ppm fields follow the counts."""
    r = _q("d_lsh_recall")(spark, SF).first()
    assert r["n_sample"] == 150
    assert r["n_hit"] <= r["n_truth"]
    assert r["n_hit"] <= r["n_cand"]
    if r["n_truth"]:
        assert r["recall_ppm"] == r["n_hit"] * 1000000 // r["n_truth"]
    if r["n_cand"]:
        assert r["precision_ppm"] == r["n_hit"] * 1000000 // r["n_cand"]


def test_dataset_card_shares_sum(spark):
    """Token shares are ppm of one corpus: they sum to ~1e6 (floor slack
    < |langs|) and dup counts never exceed doc counts."""
    rows = _q("m_dataset_card_stats")(spark, SF).collect()
    share = sum(r["token_share_ppm"] for r in rows)
    assert 1000000 - len(rows) < share <= 1000000
    for r in rows:
        assert 0 <= r["exact_dup_docs"] <= r["n_docs"]


def test_kmeans_cohesion_bounds(spark):
    """Cohesion is a cosine in micro-units; members sum to the corpus."""
    rows = _q("e_kmeans_cohesion")(spark, SF).collect()
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r["n_members"] for r in rows) == n
    for r in rows:
        assert -1000000 <= r["min_cohesion_ppm"] <= 1000000
        assert r["min_cohesion_ppm"] <= r["mean_cohesion_ppm"] <= 1000000


def test_justext_smoothing_rules(spark):
    """class_final never 'short'; non-short blocks keep their context-free
    class; a short block becomes 'good' iff BOTH neighbors (doc-edge =
    'bad') are context-free 'good'."""
    rows = _q("t_justext_blocks")(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["block_idx"]] = r
    for blocks in by_doc.values():
        for idx, r in blocks.items():
            assert r["class_final"] in ("good", "bad")
            if r["n_tokens"] < 3:
                assert r["class_cf"] == "short"
            else:
                assert r["class_cf"] == (
                    "good" if r["stop_ppm"] >= 200000 else "bad"
                )
                assert r["class_final"] == r["class_cf"]
                continue
            pc = blocks.get(idx - 1)
            nc = blocks.get(idx + 1)
            want = (
                "good"
                if pc is not None
                and nc is not None
                and pc["class_cf"] == "good"
                and nc["class_cf"] == "good"
                else "bad"
            )
            assert r["class_final"] == want


def test_knn_graph_mutuality(spark):
    """One row per sampled vector; mutual degree bounded by k; the mutual
    edge multiset is symmetric (sum of degrees is even and the graph
    reconstructed from exact cosine agrees on every degree)."""
    rows = _q("e_knn_graph")(spark, SF).collect()
    assert len(rows) == 150
    assert all(0 <= r["mutual_degree"] <= 4 for r in rows)
    assert sum(r["mutual_degree"] for r in rows) % 2 == 0
    for r in rows:
        if r["mutual_degree"] == 0:
            assert r["mean_mutual_sim"] == 0.0
        else:
            assert -1.0 <= r["mean_mutual_sim"] <= 1.0

    # independent reconstruction: exact cosine top-4 over the same sample
    import hashlib
    import math

    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    ids = sorted(
        emb,
        key=lambda i: (hashlib.md5(f"knng:{i}".encode()).hexdigest(), i),
    )[:150]
    assert sorted(ids) == sorted(r["vec_id"] for r in rows)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return 0.0 if na * nb == 0 else d / (na * nb)

    knn = {}
    for i in ids:
        sims = sorted(
            ((round(cos(emb[i], emb[j]), 6), j) for j in ids if j != i),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        knn[i] = {j for _, j in sims}
    want_deg = {
        i: sum(1 for j in knn[i] if i in knn[j]) for i in ids
    }
    got_deg = {r["vec_id"]: r["mutual_degree"] for r in rows}
    assert got_deg == want_deg


def test_mime_filter_decision_table(spark):
    """keep iff status 200 AND an extractable text type; charset only set
    when the Content-Type carried a charset parameter; every branch of
    the synthesized envelope space is exercised at this SF."""
    rows = _q("u_mime_filter")(spark, SF).collect()
    text_ok = {"text/html", "application/xhtml+xml", "text/plain"}
    seen_status, seen_mime = set(), set()
    for r in rows:
        seen_status.add(r["http_status"])
        seen_mime.add(r["mime"])
        assert r["keep"] == (
            r["http_status"] == 200 and r["mime"] in text_ok
        )
        if r["mime"] == "text/html":
            assert r["charset"] == "utf-8"
        else:
            assert r["charset"] == ""
    assert seen_status == {200, 301, 404, 500}
    assert seen_mime == text_ok | {"application/pdf", "image/png"}


def test_sft_format_loss_accounting(spark):
    """Only docs with a response half survive; prompt tokens fixed at 10
    (8 content + 2 control); response + prompt = content tokens + 3
    control tokens; loss_ppm is the integer-ppm trainable fraction."""
    rows = {r["doc_id"]: r for r in _q("m_sft_format")(spark, SF).collect()}
    d = spark.read.parquet(f"{SF}/documents.parquet")
    from pdf_extractor_spark.operators import dedup as D

    n_by_doc = {
        r["doc_id"]: r["n"]
        for r in d.select(
            "doc_id", F.size(D.word_tokens(F.col("text"))).alias("n")
        ).collect()
    }
    assert set(rows) == {i for i, n in n_by_doc.items() if n > 8}
    for i, r in rows.items():
        n = n_by_doc[i]
        assert r["n_prompt_tokens"] == 10
        assert r["n_response_tokens"] == n - 7
        assert r["loss_ppm"] == 1000000 * (n - 7) // (n + 3)
        assert len(r["sft_md5"]) == 32


def test_triangle_count_matches_bruteforce(spark):
    """Engine (degree-ordered wedge join) vs an independent brute-force
    triple enumeration of the same synthesized 24-host graph."""
    import itertools

    rows = {r["host"]: r for r in _q("g_triangle_count")(spark, SF).collect()}
    E = set()
    for h in range(24):
        for d in ((h + 1) % 24, (h + 2) % 24, (5 * h + 1) % 24):
            if d != h:
                E.add((min(h, d), max(h, d)))
    nodes = sorted({v for e in E for v in e})
    deg = {v: sum(1 for e in E if v in e) for v in nodes}
    per = {v: 0 for v in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in E and (b, c) in E and (a, c) in E:
            per[a] += 1
            per[b] += 1
            per[c] += 1
    assert set(rows) == set(nodes)
    for v in nodes:
        assert rows[v]["degree"] == deg[v]
        assert rows[v]["triangles"] == per[v]
        want = (
            0
            if deg[v] < 2
            else 2_000_000 * per[v] // (deg[v] * (deg[v] - 1))
        )
        assert rows[v]["clustering_ppm"] == want
    assert sum(r["triangles"] for r in rows.values()) % 3 == 0
    assert sum(r["triangles"] for r in rows.values()) > 0


def test_label_propagation_accretive(spark):
    """Seeds keep their true label at round 0; spread labels appear at
    rounds 1..3 and are exactly reachable-from-a-seed within that many
    mutual-kNN hops (BFS reconstruction); unlabeled nodes are those
    beyond 3 hops from every seed."""
    rows = {r["vec_id"]: r for r in _q("g_label_propagation")(spark, SF).collect()}
    assert len(rows) == 150
    emb = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    for vid, r in rows.items():
        if r["is_seed"]:
            assert r["labeled_round"] == 0
            assert r["label"] == emb[vid]
            assert r["correct"] is True
        elif r["label"] is not None:
            assert 1 <= r["labeled_round"] <= 3
            assert r["correct"] == (r["label"] == emb[vid])
        else:
            assert r["labeled_round"] is None and r["correct"] is None

    # BFS distance-from-seed over the same mutual graph (via similarity op)
    from pdf_extractor_spark.operators.similarity import mutual_knn_edges

    _, edges = mutual_knn_edges(
        spark.read.parquet(f"{SF}/embeddings.parquet"),
        k=4, sample_n=150, salt="lprop",
    )
    adj = {}
    for e in edges.collect():
        adj.setdefault(e["src"], set()).add(e["dst"])
    frontier = {v for v, r in rows.items() if r["is_seed"]}
    seen = set(frontier)
    dist = {v: 0 for v in frontier}
    for d in (1, 2, 3):
        frontier = {
            n
            for v in frontier
            for n in adj.get(v, ())
            if n not in seen
        }
        seen |= frontier
        for n in frontier:
            dist[n] = d
    for vid, r in rows.items():
        if r["is_seed"]:
            continue
        if vid in dist:
            assert r["labeled_round"] == dist[vid]
        else:
            assert r["label"] is None


def test_dpo_pairs_strict_preference(spark):
    """Every pair has a strictly better chosen side; each document appears
    in at most one pair per side; pair count per lang <= n_lang // 2."""
    rows = _q("m_dpo_pairs")(spark, SF).collect()
    assert rows
    chosen, rejected = set(), set()
    for r in rows:
        assert r["chosen_ppm"] > r["rejected_ppm"]
        assert r["gap_ppm"] == r["chosen_ppm"] - r["rejected_ppm"]
        assert r["chosen_doc"] not in chosen
        assert r["rejected_doc"] not in rejected
        chosen.add(r["chosen_doc"])
        rejected.add(r["rejected_doc"])
    assert not (chosen & rejected)
    import collections

    per_lang = collections.Counter(r["lang"] for r in rows)
    d = spark.read.parquet(f"{SF}/documents.parquet")
    n_lang = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for lang, c in per_lang.items():
        assert c <= n_lang[lang] // 2


def test_length_bucket_batches_partition(spark):
    """Batches partition the corpus: row counts sum to the table total;
    bucket bounds hold (2^bucket <= max_len < 2^(bucket+1) is implied by
    max over members whose own bucket matches); at most one non-full
    batch per bucket and pad accounting is exact."""
    rows = _q("m_length_bucket_batches")(spark, SF).collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r["n_rows"] for r in rows) == d.count()
    import collections

    partial = collections.Counter()
    for r in rows:
        assert 1 <= r["n_rows"] <= 8
        if r["n_rows"] < 8:
            partial[r["bucket"]] += 1
        assert 2 ** r["bucket"] <= r["max_len"] < 2 ** (r["bucket"] + 1)
        assert r["sum_len"] <= r["n_rows"] * r["max_len"]
        assert r["pad_ppm"] == (
            1_000_000 * (r["n_rows"] * r["max_len"] - r["sum_len"])
            // (r["n_rows"] * r["max_len"])
        )
    assert all(c <= 1 for c in partial.values())


def test_og_meta_extraction_branches(spark):
    """Docs without og tags surface NULLs; docs with them echo the title
    and the document's lang; canonical/description always extract."""
    rows = _q("x_extract_og_meta")(spark, SF).collect()
    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang").collect()
    }
    saw_og, saw_plain = False, False
    for r in rows:
        assert r["canonical"] == f"https://docs.example/{r['doc_id']}"
        assert r["description"] is not None
        assert r["title"] is not None
        if r["has_og"]:
            saw_og = True
            assert r["og_title"] == r["title"]
            assert r["og_locale"] == langs[r["doc_id"]]
        else:
            saw_plain = True
            assert r["og_title"] is None and r["og_locale"] is None
    assert saw_og and saw_plain


def test_trigram_novelty_recompute(spark):
    """Bounds hold everywhere and an independent single-process
    recomputation agrees on every document."""
    rows = {
        r["doc_id"]: r for r in _q("t_trigram_novelty")(spark, SF).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text").collect()
    }
    assert set(rows) == set(docs)
    grams = {}
    for did, text in docs.items():
        t = text.split(" ")
        grams[did] = {
            " ".join(t[i : i + 3]) for i in range(max(len(t) - 2, 0))
        }
    import collections

    df = collections.Counter(g for gs in grams.values() for g in gs)
    for did, r in rows.items():
        gs = grams[did]
        novel = sum(1 for g in gs if df[g] == 1)
        assert r["n_distinct_trigrams"] == len(gs)
        assert r["n_novel"] == novel
        assert r["novelty_ppm"] == 1_000_000 * novel // max(len(gs), 1)


def test_crawl_trap_class_decisions(spark):
    """Each synthesized URL class lands on its intended verdict: loop
    paths (class 0) and calendar archives (class 1) and session ids
    (class 2) are always traps; plain pages (class 4) never are; deep
    repeats (class 3) trap iff the repeated-segment count crosses 2."""
    rows = _q("u_crawl_trap")(spark, SF).collect()
    assert rows
    for r in rows:
        cls = r["doc_id"] % 5
        if cls in (0, 1, 2):
            assert r["is_trap"], r
        elif cls == 4:
            assert not r["is_trap"], r
        else:
            n = r["doc_id"] % 12
            assert r["is_trap"] == (max(n - 1, 0) >= 2), r
        assert r["session_hit"] == (cls == 2)
        assert r["calendar_hit"] == (cls == 1)


def test_link_reciprocity_farm_vs_organic(spark):
    """The planted clique (hosts 24-29) reciprocates; the organic chord
    hosts (0-23) have recip_ppm = 0 (their +1..+5 forward chords are
    never returned). ppm is exact integer math."""
    rows = {r["host"]: r for r in _q("u_link_reciprocity")(spark, SF).collect()}
    for h, r in rows.items():
        assert 0 <= r["recip_ppm"] <= 1_000_000
        assert r["recip_ppm"] == 1_000_000 * r["recip_edges"] // r["outdeg"]
        if h < 24:
            assert r["recip_edges"] == 0 and not r["farm_flag"], r
    assert any(r["farm_flag"] for h, r in rows.items() if h >= 24)


def test_host_template_mass_recompute(spark):
    """dup_mass_ppm recomputed from a single-process shingle count equals
    the distributed result for every host (partitioning invariance of
    the (host, shingle) aggregation)."""
    import re
    from collections import Counter

    rows = {r["host"]: r for r in _q("d_host_template_mass")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    total = Counter()
    dist: dict[int, set] = {}
    ndocs = Counter()
    for d in docs:
        h = d["doc_id"] % 24
        ndocs[h] += 1
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).split() if t]
        sh = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        total[h] += len(sh)
        dist.setdefault(h, set()).update(sh)
    for h, r in rows.items():
        t, n = total[h], len(dist.get(h, set()))
        assert r["n_docs"] == ndocs[h]
        assert r["total_shingles"] == t
        assert r["distinct_shingles"] == n
        assert r["dup_mass_ppm"] == 1_000_000 * (t - n) // max(t, 1)


def test_kcore_clique_survives_ring_peels(spark):
    """At k=3 the 6-clique (nodes 100-105) is the entire surviving core;
    every ring/chord node (0-29) peels out across the cascade rounds.
    Extra rounds are a no-op (the peeling converged inside 8)."""
    from pdf_extractor_spark.operators.graph import kcore_decompose

    rows = {r["node"]: r for r in _q("g_kcore")(spark, SF).collect()}
    for n, r in rows.items():
        if n >= 100:
            assert r["in_core"] and r["core_degree"] == 5, r
        else:
            assert not r["in_core"] and r["core_degree"] == 0, r
    # convergence: 10 rounds == 8 rounds on a directly-built graph
    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)]
        + [(100 + a, 100 + b) for a in range(4) for b in range(4) if a != b]
        + [(100, 0)],
        "src long, dst long",
    )
    r8 = {
        (r["node"], r["core_degree"], r["in_core"])
        for r in kcore_decompose(edges, k=3, rounds=8).collect()
    }
    r10 = {
        (r["node"], r["core_degree"], r["in_core"])
        for r in kcore_decompose(edges, k=3, rounds=10).collect()
    }
    assert r8 == r10
    assert {n for (n, _, c) in r8 if c} == {100, 101, 102, 103}


def test_sitemap_gap_set_identities(spark):
    """Per host: declared = gap + (declared AND crawled), crawled =
    orphan + (declared AND crawled), and the global counts match the
    synthesis rates (2/3 declared, 3/4 crawled of each host's urls)."""
    rows = _q("u_sitemap_gap")(spark, SF).collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    n_total = d.count()
    assert sum(r["declared_n"] for r in rows) == d.filter(
        F.col("doc_id") % 3 != 2
    ).count()
    assert sum(r["crawled_n"] for r in rows) == d.filter(
        F.col("doc_id") % 4 != 3
    ).count()
    for r in rows:
        both = r["declared_n"] - r["gap_n"]
        assert both == r["crawled_n"] - r["orphan_n"]
        assert r["coverage_ppm"] == 1_000_000 * both // max(r["declared_n"], 1)
    assert n_total >= sum(r["declared_n"] for r in rows)


def test_table_markdown_shape(spark):
    """Markdown reassembly: header line is row 0, separator has exactly
    n_cols(row 0) dashes, body line count = n_rows - 1, and every line
    is pipe-delimited with the row's cells in column order."""
    rows = _q("x_table_markdown")(spark, SF).collect()
    assert rows
    for r in rows:
        lines = r["markdown"].split("\n")
        assert len(lines) == r["n_rows"] + 1  # header + sep + body
        sep = lines[1]
        assert set(sep.replace("|", "").split()) <= {"---"}
        assert sep.count("---") == lines[0].count("|") - 1
        for ln in lines:
            assert ln.startswith("|") and ln.endswith("|")
        if r["table_idx"] == 0:
            assert lines[0] == "| name | v1 | v2 |"
            assert r["n_rows"] == 3 and r["n_cols"] == 3
        else:
            assert r["n_rows"] == 1 and r["n_cols"] == 2


def test_sentence_windows_reconstruct(spark):
    """Windows partition each document's kept sentences: joined window
    texts in window order equal the sentence sequence, no window starts
    past the 200-char budget of its predecessor, and n_chars sums to the
    doc's kept-sentence mass."""
    import re

    win = _q("m_sentence_windows")(spark, SF).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    by_doc: dict[int, list] = {}
    for r in win:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, ws in by_doc.items():
        ws.sort(key=lambda r: r["window_id"])
        sents = [
            s
            for s in re.sub(
                r"([.!?])\s+", lambda m: m.group(1) + "\x01", docs[doc_id]
            ).split("\x01")
            if s.strip()
        ]
        joined = " ".join(w["window_text"] for w in ws)
        assert joined == " ".join(sents)
        assert sum(w["n_chars"] for w in ws) == sum(len(s) for s in sents)
        assert sum(w["n_sents"] for w in ws) == len(sents)
        # window ids are start-offset // 200 of a prefix sum: strictly increasing
        assert [w["window_id"] for w in ws] == sorted(
            {w["window_id"] for w in ws}
        )


def test_int8_quant_roundtrip_bounds(spark):
    """Codes stay in [0, 255], every vector emits 64 codes, and the
    reconstruction error is bounded by half a quantization step per
    dimension (the defining property of round-to-nearest affine SQ)."""
    rows = _q("e_int8_quant")(spark, SF).collect()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    import collections

    vals = collections.defaultdict(list)
    for r in emb:
        for i, v in enumerate(r["embedding"]):
            vals[i].append(float(v))
    steps = {
        i: (max(v) - min(v)) / 255.0 if max(v) > min(v) else 0.0
        for i, v in vals.items()
    }
    max_step = max(steps.values())
    for r in rows:
        codes = [int(c) for c in r["codes_csv"].split(",")]
        assert len(codes) == 64
        assert 0 <= r["code_min"] <= r["code_max"] <= 255
        assert min(codes) == r["code_min"] and max(codes) == r["code_max"]
        # mse_pico <= (max_step/2)^2 * 1e12 (+1 for the floor(+0.5) pico round)
        assert r["mse_pico"] <= (max_step / 2) ** 2 * 1e12 + 1


def test_oov_rate_top_vocab_zero(spark):
    """A document made only of the corpus's most frequent tokens has
    oov_ppm 0; global identity: sum(n_oov) = total token instances not
    covered by the top-1000 vocabulary (recomputed single-process)."""
    import re
    from collections import Counter

    rows = {r["doc_id"]: r for r in _q("t_oov_rate")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    freq = Counter()
    toks_by_doc = {}
    for d in docs:
        toks = re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).split()
        toks_by_doc[d["doc_id"]] = toks
        freq.update(toks)
    vocab = {
        t
        for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :1000
        ]
    }
    for doc_id, toks in toks_by_doc.items():
        r = rows[doc_id]
        oov = sum(1 for t in toks if t not in vocab)
        assert r["n_tokens"] == len(toks)
        assert r["n_oov"] == oov
        assert r["oov_ppm"] == 1_000_000 * oov // max(len(toks), 1)


def test_anneal_mix_budget_identities(spark):
    """Phase allocations are proportional floors: sum(phase1) <= 1e6,
    sum(phase2) <= 2e5 (floor dust only — deficit < |langs|), and a
    language with above-average high-quality share gets upweight_ppm >
    1e6 iff its combined share beats its proportional baseline."""
    rows = _q("m_anneal_mix")(spark, SF).collect()
    assert rows
    p1 = sum(r["phase1_alloc"] for r in rows)
    p2 = sum(r["phase2_alloc"] for r in rows)
    assert 1_000_000 - len(rows) <= p1 <= 1_000_000
    assert 200_000 - len(rows) <= p2 <= 200_000
    total = sum(r["lang_tokens"] for r in rows)
    total_hq = sum(r["hq_tokens"] for r in rows)
    for r in rows:
        a = 1_000_000 * r["lang_tokens"] // max(total, 1)
        b = 200_000 * r["hq_tokens"] // max(total_hq, 1)
        assert r["phase1_alloc"] == a and r["phase2_alloc"] == b
        expect = (
            (1_000_000 * (a + b) // 1_200_000)
            * total
            // max(r["lang_tokens"], 1)
        )
        assert r["upweight_ppm"] == expect


def test_unicode_clean_branch_semantics(spark):
    """Each planted dirt class behaves as specified: decomposed accents
    recompose (nfc_changed, n_out < n_stripped), zero-width/soft-hyphen
    and control classes shrink at the STRIP stage only, NBSP class keeps
    length (1:1 space swap), precomposed class is a no-op end-to-end; and
    the md5 equals a single-process unicodedata replay (golden gate)."""
    import hashlib
    import re
    import unicodedata

    rows = {r["doc_id"]: r for r in _q("t_unicode_clean")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    markers = {
        0: " e\u0301 cafe\u0301",
        1: " \u200bx\u00ady",
        2: "\u00a0q",
        3: " \x07bell\u009f",
        4: " \u00e9 plain",
    }
    for d in docs:
        did = d["doc_id"]
        r = rows[did]
        dirty = d["text"] + markers[did % 5]
        stripped = re.sub("[\u200b\u200c\u200d\ufeff\u00ad]", "", dirty)
        stripped = re.sub(
            "[\x00-\x08\x0b-\x1f\x7f\u0080-\u009f]", "", stripped
        )
        stripped = stripped.replace("\u00a0", " ")
        clean = unicodedata.normalize("NFC", stripped)
        assert r["n_in"] == len(dirty)
        assert r["n_stripped"] == len(stripped)
        assert r["n_out"] == len(clean)
        assert r["nfc_changed"] == (clean != stripped)
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()
        cls = did % 5
        if cls == 0:
            assert r["nfc_changed"] and r["n_out"] == r["n_stripped"] - 2
        elif cls == 1:
            assert r["n_stripped"] == r["n_in"] - 2 and not r["nfc_changed"]
        elif cls == 2:
            assert r["n_stripped"] == r["n_in"] and not r["nfc_changed"]
        elif cls == 3:
            assert r["n_stripped"] == r["n_in"] - 2 and not r["nfc_changed"]
        else:
            assert r["n_out"] == r["n_in"] and not r["nfc_changed"]


def test_topic_classify_planted_winner(spark):
    """The planted topic wins for every marked class, 'none' only for the
    unmarked class, score equals the planted instance count, and the
    cross-topic noise term shows up in total_hits on even ids."""
    from pdf_extractor_spark.queries.q18_pass11_unicode_topic import _TOPIC_LEX

    rows = _q("t_topic_classify")(spark, SF).collect()
    names = [n for n, _ in _TOPIC_LEX]
    for r in rows:
        did = r["doc_id"]
        cls = did % 7
        if cls == 6:
            assert r["topic"] == "none"
            assert r["score"] == 0 and r["total_hits"] == 0
        else:
            reps = 1 + did % 3
            noise = 1 if did % 2 == 0 else 0
            assert r["topic"] == names[cls]
            assert r["score"] == 2 * reps
            assert r["total_hits"] == 2 * reps + noise


def test_charset_sniff_rules(spark):
    """BOM classes report the BOM encoding; meta classes extract the
    declared label; the past-prelude meta trap falls through to
    windows-1252."""
    rows = _q("w_charset_sniff")(spark, SF).collect()
    for r in rows:
        cls = r["doc_id"] % 6
        if cls == 0:
            assert (r["method"], r["charset"]) == ("bom", "utf-8")
        elif cls == 1:
            assert (r["method"], r["charset"]) == ("bom", "utf-16le")
        elif cls == 2:
            assert (r["method"], r["charset"]) == ("bom", "utf-16be")
        elif cls == 3:
            assert (r["method"], r["charset"]) == ("meta", "utf-8")
        elif cls == 4:
            assert (r["method"], r["charset"]) == ("meta", "iso-8859-1")
        else:
            assert (r["method"], r["charset"]) == (
                "default",
                "windows-1252",
            )
            assert r["n_bytes"] > 1100  # the trap body really is long


def test_canonical_cluster_identities(spark):
    """Clusters partition the corpus (every member carries the cluster's
    true size); predecessor-pointing docs land in their target's cluster;
    the representative is the min doc_id of the cluster."""
    rows = _q("u_canonical_cluster")(spark, SF).collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r["canonical_key"], []).append(r)
    assert sum(len(v) for v in by_key.values()) == len(rows)
    for members in by_key.values():
        assert {m["cluster_n"] for m in members} == {len(members)}
        rep = min(m["doc_id"] for m in members)
        assert all(m["rep_doc"] == rep for m in members)
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        did = r["doc_id"]
        if did % 3 == 1 and did > 0:
            assert not r["is_canonical"]
            assert r["canonical_key"] == by_id[did - 1]["url"]
        else:
            assert r["is_canonical"] and r["canonical_key"] == r["url"]


def test_containment_pairs_vs_bruteforce(spark):
    """Every reported pair's containment matches a single-process
    recompute from raw text, values are bounded (inter <= min(n_a, n_b)),
    the 0.6 filter holds, and NO candidate pair the LSH emits above the
    threshold is missing from the output."""
    import re

    from pdf_extractor_spark.operators import dedup as D

    rows = _q("d_containment_pairs")(spark, SF).collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            d, k=4, bands=2, shingle_n=2, n_partitions=8
        ).collect()
    }

    def sh(text):
        toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).split()
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    got = {(r["id_a"], r["id_b"]): r for r in rows}
    assert set(got) <= pairs
    expected = set()
    for a, b in pairs:
        sa, sb = sh(texts[a]), sh(texts[b])
        inter = len(sa & sb)
        ca = 1_000_000 * inter // max(len(sa), 1)
        cb = 1_000_000 * inter // max(len(sb), 1)
        if max(ca, cb) >= 600_000:
            expected.add((a, b))
            r = got[(a, b)]
            assert (r["n_a"], r["n_b"], r["inter_n"]) == (
                len(sa),
                len(sb),
                inter,
            )
            assert (r["cont_a_ppm"], r["cont_b_ppm"]) == (ca, cb)
            assert r["inter_n"] <= min(r["n_a"], r["n_b"])
    assert set(got) == expected


def test_script_detect_planted_dominance(spark):
    """Every marked class reports its planted script as dominant (counts
    beat the 120-char latin body by construction), class 0 stays latin
    (or 'none' for letterless bodies), and counts equal a single-process
    regex recompute."""
    import re

    rows = {r["doc_id"]: r for r in _q("t_script_detect")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    from pdf_extractor_spark.queries.q19_pass12_content_gates import _SCRIPTS

    # python re lacks \x{...}: rebuild the classes from the ranges directly
    py_pat = {
        "latin": "[A-Za-z]",
        "cyrillic": "[Ѐ-ӿ]",
        "greek": "[Ͱ-Ͽ]",
        "arabic": "[؀-ۿ]",
        "cjk": "[一-鿿]",
        "hangul": "[가-힣]",
    }
    markers = {i: mk for i, (_, _, mk) in enumerate(_SCRIPTS)}
    for d in docs:
        did = d["doc_id"]
        r = rows[did]
        cls = did % 6
        body = d["text"][:120] + (
            (" " + markers[cls]) * 40 if markers.get(cls) else ""
        )
        total = 0
        for name, _, _ in _SCRIPTS:
            n = len(re.findall(py_pat[name], body))
            assert r[f"n_{name}"] == n, (did, name)
            total += n
        assert r["n_letters"] == total
        if cls == 0:
            assert r["script"] in ("latin", "none")
        else:
            assert r["script"] == _SCRIPTS[cls][0]
            assert r["dom_ppm"] > 500000  # planted script holds a majority


def test_badwords_gate_routes(spark):
    """Class semantics: clean keeps, single hit flags, dense repeats and
    3+ distinct terms drop, and the token-boundary trap ('casinos') never
    matches — exact-token matching only."""
    rows = _q("t_badwords_gate")(spark, SF).collect()
    for r in rows:
        cls = r["doc_id"] % 5
        if cls == 0:
            assert (r["n_bad"], r["route"]) == (0, "keep")
        elif cls == 1:
            assert r["n_bad"] == 1 and r["n_bad_terms"] == 1
            # a single hit in a very short doc legitimately crosses the
            # 8% density threshold
            assert (r["route"] == "drop") == (r["bad_ppm"] >= 80000)
            assert r["route"] in ("flag", "drop")
        elif cls == 2:
            reps = 1 + r["doc_id"] % 4
            assert r["n_bad"] == 2 * reps and r["n_bad_terms"] == 2
            assert r["route"] in ("flag", "drop")
            assert (r["route"] == "drop") == (r["bad_ppm"] >= 80000)
        elif cls == 3:
            assert r["n_bad_terms"] == 4 and r["route"] == "drop"
        else:
            assert (r["n_bad"], r["n_bad_terms"]) == (0, 0)
            assert r["route"] == "keep"
        assert r["bad_ppm"] == 1_000_000 * r["n_bad"] // max(r["n_tokens"], 1)


def test_pii_density_gate_counts_and_routes(spark):
    """Planted PII classes count exactly (1 email / email+IP+phone / 8
    emails), density and route recompute from the row's own counts, and
    the redacted md5 matches a single-process redaction replay."""
    import hashlib
    import re

    from pdf_extractor_spark.functions.redact import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IP_TOKEN,
        IPV4_RE,
        PHONE_RE,
        PHONE_TOKEN,
    )

    rows = {
        r["doc_id"]: r for r in _q("t_pii_density_gate")(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    for d in docs:
        did = d["doc_id"]
        r = rows[did]
        cls = did % 4
        if cls == 0:
            assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (0, 0, 0)
            assert r["route"] == "keep"
        elif cls == 1:
            assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (1, 0, 0)
            assert r["route"] in ("redact", "drop")
        elif cls == 2:
            assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (1, 1, 1)
        else:
            assert r["n_emails"] == 8
        total = r["n_emails"] + r["n_ips"] + r["n_phones"]
        assert r["pii_ppm"] == 1_000_000 * total // max(r["n_tokens"], 1)
        expect_route = (
            "drop"
            if r["pii_ppm"] >= 150_000
            else ("redact" if total > 0 else "keep")
        )
        assert r["route"] == expect_route
        if cls == 1:
            marker = f" reach me at u{did}@mail.example now"
        elif cls == 2:
            marker = (
                f" u{did}@mail.example or 10.0.{did % 200}.5"
                f" or +44 7700 900{did % 1000:03d}"
            )
        elif cls == 3:
            marker = f" spam{did}@x.example" * 8
        else:
            marker = ""
        t = d["text"] + marker
        red = re.sub(EMAIL_RE, EMAIL_TOKEN, t)
        red = re.sub(IPV4_RE, IP_TOKEN, red)
        red = re.sub(PHONE_RE, PHONE_TOKEN, red)
        assert r["redacted_md5"] == hashlib.md5(red.encode()).hexdigest()


def test_doremi_weights_identities(spark):
    """Weights stay a (floored) distribution, the largest domain's weight
    strictly grows from uniform init, every round replays in pure python
    (integer recurrence), and excess is 1e6 for exactly the max domain."""
    rows = _q("m_doremi_weights")(spark, SF).collect()
    k = len(rows)
    w_init = 1_000_000 // k
    assert all(r["w_init_ppm"] == w_init for r in rows)
    assert sum(r["w_final_ppm"] for r in rows) <= 1_000_000
    assert sum(r["w_final_ppm"] for r in rows) >= 1_000_000 - k
    mx = max(r["n_tokens"] for r in rows)
    for r in rows:
        assert r["excess_ppm"] == 1_000_000 * r["n_tokens"] // mx
    top = max(rows, key=lambda r: r["n_tokens"])
    assert top["excess_ppm"] == 1_000_000
    assert top["w_final_ppm"] > w_init
    # full pure-python replay
    ws = {r["lang"]: w_init for r in rows}
    for _ in range(6):
        raw = {
            r["lang"]: ws[r["lang"]]
            * (1_000_000 + 200_000 * r["excess_ppm"] // 1_000_000)
            // 1_000_000
            for r in rows
        }
        tot = sum(raw.values())
        ws = {lang: 1_000_000 * raw[lang] // tot for lang in raw}
    for r in rows:
        assert r["w_final_ppm"] == ws[r["lang"]]


def test_temporal_split_boundaries(spark):
    """Split boundaries are exact: eval iff date >= cutoff, embargo iff
    within the 14 days before it, train else; days_to_cutoff recomputes
    from the synthesized date rule."""
    import datetime

    rows = _q("m_temporal_split")(spark, SF).collect()
    base = datetime.date(2025, 1, 1)
    cutoff = datetime.date(2025, 10, 1)
    for r in rows:
        d = base + datetime.timedelta(days=(r["doc_id"] * 37) % 365)
        assert r["warc_date"] == d
        assert r["days_to_cutoff"] == (cutoff - d).days
        if d >= cutoff:
            assert r["split"] == "eval"
        elif (cutoff - d).days <= 14:
            assert r["split"] == "embargo"
        else:
            assert r["split"] == "train"
    assert {r["split"] for r in rows} == {"train", "embargo", "eval"}


def test_dim_truncation_bounds_and_top1(spark):
    """overlap@10 is in [0,10]; the full-dim top-1 matches a single-process
    brute-force recompute with the same 6dp-round-then-tie-break rule."""
    rows = _q("e_dim_truncation")(spark, SF).collect()
    assert rows
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }

    def cos(a, b, dims=None):
        if dims:
            a, b = a[:dims], b[:dims]
        dp = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) ** 2 for x in a) ** 0.5
        nb = sum(float(x) ** 2 for x in b) ** 0.5
        return round(dp / max(na * nb, 1e-12), 6)

    for r in rows:
        assert 0 <= r["overlap_at_10"] <= 10
        av = emb[r["anchor_id"]]
        best = min(
            ((-cos(emb[v], av), v) for v in emb if v != r["anchor_id"]),
        )
        assert r["top1_full"] == best[1]
        assert abs(r["top1_full_sim"] - (-best[0])) < 1e-9
        best_t = min(
            ((-cos(emb[v], av, 16), v) for v in emb if v != r["anchor_id"]),
        )
        assert r["top1_trunc"] == best_t[1]


def test_unigram_kl_nonneg_and_replay(spark):
    """KL >= 0 (within float eps of the 6dp rounding), n_terms <= 50, and
    the value replays from a single-process recompute over raw text with
    the same md5 coin."""
    import hashlib
    import math
    import re
    from collections import Counter

    rows = {r["lang"]: r for r in _q("t_unigram_kl")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    corpus: dict[str, Counter] = {}
    sample: dict[str, Counter] = {}
    for d in docs:
        toks = re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).split()
        corpus.setdefault(d["lang"], Counter()).update(toks)
        h = hashlib.md5(f"kl:{d['doc_id']}".encode()).hexdigest()
        if int(h[:8], 16) / 2**32 < 0.2:
            sample.setdefault(d["lang"], Counter()).update(toks)
    for lang, r in rows.items():
        assert r["kl_divergence"] >= -1e-6
        assert r["n_terms"] <= 50
        top = sorted(
            corpus[lang].items(), key=lambda kv: (-kv[1], kv[0])
        )[:50]
        tot_c = sum(c for _, c in top)
        scnt = sample.get(lang, Counter())
        tot_s = sum(scnt.get(t, 0) for t, _ in top)
        n = len(top)
        assert (r["corpus_tokens"], r["sample_tokens"], r["n_terms"]) == (
            tot_c,
            tot_s,
            n,
        )
        kl = sum(
            ((scnt.get(t, 0) + 1) / (tot_s + n))
            * math.log(
                ((scnt.get(t, 0) + 1) / (tot_s + n))
                / ((c + 1) / (tot_c + n))
            )
            for t, c in top
        )
        assert abs(r["kl_divergence"] - round(kl, 6)) <= 1e-6


def test_dehyphenate_roundtrip_and_python_replay(spark):
    """Every synthesized break must be repaired (n_breaks == n_repaired),
    every repair must restore the original bytes, and the wrap+repair
    pair must agree with an independent Python `re` replay (Java, RE2 and
    Python re share leftmost-match + resume-after-replacement semantics
    for these patterns)."""
    import hashlib
    import re

    rows = {r["doc_id"]: r for r in _q("x_dehyphenate")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    assert len(rows) == len(docs)
    for d in docs:
        r = rows[d["doc_id"]]
        assert r["restored_ok"] is True
        assert r["n_breaks"] == r["n_repaired"]
        wrapped = re.sub(
            r"(.{39}[a-z0-9])([a-z0-9])", r"\1-\n\2", d["text"]
        )
        repaired = re.sub(r"([a-z0-9])-\n([a-z0-9])", r"\1\2", wrapped)
        assert repaired == d["text"]
        assert r["n_breaks"] == (len(wrapped) - len(d["text"])) // 2
        assert r["repaired_md5"] == hashlib.md5(repaired.encode()).hexdigest()


def test_ligature_fold_roundtrip_and_counts(spark):
    """Fold(inject(text)) must equal text for every row, and the per-class
    ligature counts must match a str.replace replay (leftmost
    non-overlapping in both engines and Python)."""
    rows = {r["doc_id"]: r for r in _q("t_ligature_fold")(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    seen_nonzero = 0
    for d in docs:
        r = rows[d["doc_id"]]
        assert r["restored_ok"] is True
        dirty = d["text"]
        for a, b in (("fi", "ﬁ"), ("fl", "ﬂ"), ("ae", "æ"), ("oe", "œ")):
            dirty = dirty.replace(a, b)
        expected = {
            "n_fi": dirty.count("ﬁ"),
            "n_fl": dirty.count("ﬂ"),
            "n_ae": dirty.count("æ"),
            "n_oe": dirty.count("œ"),
        }
        for k, v in expected.items():
            assert r[k] == v, (d["doc_id"], k, r[k], v)
        seen_nonzero += any(expected.values())
    assert seen_nonzero > 0  # the corpus really plants ligatures


def test_list_markdown_matches_synthesis_rules(spark):
    """Markdown output must be reconstructible from the page-synthesis
    rules alone: item counts, numbering, and the no-list/gamma/extra
    branches."""
    rows = _q("x_list_markdown")(spark, SF).collect()
    by_key = {(r["doc_id"], r["kind"], r["list_idx"]): r for r in rows}
    assert len(by_key) == len(rows)
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    expected = {}
    for did in ids:
        if did % 5 == 0:
            continue
        ul = [f"alpha {did % 7}", f"beta {did % 5}"]
        if did % 3 == 0:
            ul.append("gamma")
        expected[(did, "ul", 0)] = "\n".join(f"- {x}" for x in ul)
        if did % 2 == 0:
            ol = [f"step {did % 4}", "done"]
            if did % 7 == 0:
                ol.append("extra")
            expected[(did, "ol", 0)] = "\n".join(
                f"{j + 1}. {x}" for j, x in enumerate(ol)
            )
    assert set(by_key) == set(expected)
    for k, md in expected.items():
        assert by_key[k]["markdown"] == md, (k, by_key[k]["markdown"], md)
        assert by_key[k]["n_items"] == md.count("\n") + 1


def test_phrase_search_matches_bruteforce(spark):
    """Winner phrase and per-doc hit counts must match a full Python
    recount of the corpus trigram stream."""
    import re
    from collections import Counter

    rows = _q("t_phrase_search")(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    per_doc = {}
    corpus = Counter()
    for d in docs:
        toks = re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).split()
        grams = [
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
        ]
        per_doc[d["doc_id"]] = Counter(grams)
        corpus.update(grams)
    phrase = min(corpus, key=lambda g: (-corpus[g], g))
    hits = sorted(
        (
            (did, c[phrase])
            for did, c in per_doc.items()
            if c[phrase] > 0
        ),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    assert [(r["doc_id"], r["n_occurrences"]) for r in rows] == hits
    for r in rows:
        assert r["phrase"] == phrase
        assert r["corpus_occurrences"] == corpus[phrase]


def test_soft_dedup_weights_mass_conservation(spark):
    """Weights must give every distinct content ~1e6 total ppm mass
    (floor rounding), the canonical flag must pick exactly one row (the
    min doc_id) per content group, and dup_count must match a Python
    groupby of md5(text)."""
    import hashlib
    from collections import defaultdict

    rows = {
        r["doc_id"]: r
        for r in _q("d_soft_dedup_weights")(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    groups = defaultdict(list)
    for d in docs:
        groups[hashlib.md5(d["text"].encode()).hexdigest()].append(
            d["doc_id"]
        )
    assert len(rows) == len(docs)
    for ids in groups.values():
        c = len(ids)
        canon = [i for i in ids if rows[i]["is_canonical"]]
        assert canon == [min(ids)]
        for i in ids:
            assert rows[i]["dup_count"] == c
            assert rows[i]["weight_ppm"] == 1_000_000 // c
        total = sum(rows[i]["weight_ppm"] for i in ids)
        assert 1_000_000 - c < total <= 1_000_000


def test_bootstrap_ci_brackets_point_mean(spark):
    """The Poisson-bootstrap CI must bracket the point mean, be ordered,
    and match an independent Python replay of the threshold table."""
    import hashlib

    r = _q("a_bootstrap_ci")(spark, SF).first()
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    ths = [
        1580030168, 3160060337, 3950075421,
        4213413783, 4279248373, 4292415291,
    ]
    means = []
    for b in range(32):
        sk = skx = 0
        for d in docs:
            coin = int(
                hashlib.md5(f"boot:{b}:{d['doc_id']}".encode())
                .hexdigest()[:8],
                16,
            )
            k = next((i for i, t in enumerate(ths) if coin <= t), 6)
            sk += k
            skx += k * d["n_chars"]
        means.append(round(skx / sk, 6))
    means.sort()
    assert r["n_replicates"] == 32 and r["n_docs"] == len(docs)
    assert r["ci_lo_p05"] == means[1] and r["ci_hi_p95"] == means[30]
    assert r["ci_lo_p05"] <= r["mean_nchars"] <= r["ci_hi_p95"]


def test_band_tuning_s_curve_properties(spark):
    """The S-curve table must be monotone in the right directions: more
    bands -> lower threshold and higher candidate probability at every
    j; p is a probability; the b=128/r=1 row degenerates to
    'any shared hash'."""
    rows = sorted(
        _q("d_minhash_band_tuning")(spark, SF).collect(),
        key=lambda r: r["bands"],
    )
    assert [r["bands"] for r in rows] == [1, 2, 4, 8, 16, 32, 64, 128]
    for r in rows:
        assert r["bands"] * r["rows_per_band"] == 128
        for c in ("p_at_050", "p_at_070", "p_at_080", "p_at_090"):
            assert 0.0 <= r[c] <= 1.0
    for a, b in zip(rows, rows[1:]):
        assert b["threshold"] < a["threshold"]
        assert b["p_at_080"] >= a["p_at_080"]
    top = rows[-1]
    assert top["rows_per_band"] == 1 and top["p_at_050"] == 1.0
