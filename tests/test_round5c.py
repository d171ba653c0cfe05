"""Round-5 session-4 additions: one-level Louvain, Jones–Plassmann
coloring, distributed BPE training.

Oracle rows exist for the SQL-expressible faces (``graph_louvain`` /
``graph_coloring`` / ``docs_bpe_pairs``); these tests pin the semantic
properties the value-hash can't express — properness and the Δ+1 bound
of the coloring, modularity improvement and hand-checked moves for
Louvain, exact merge-sequence agreement of the BPE trainer with an
independent pure-Python implementation — plus the unroll-margin
invariants the DuckDB oracles rely on.
"""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from graphminer_spark.algorithms.coloring import greedy_coloring
from graphminer_spark.algorithms.community import (
    louvain_one_level,
    modularity,
)
from graphminer_spark.graph.build import symmetrize
from graphminer_spark.graph.tpch_edges import SPARSE_DIVISOR, tpch_edges
from tests.conftest import edges_df

SF_DIR = "/root/testdata/sf0.001"


def _sym(spark, edges):
    return symmetrize(edges_df(spark, edges), dedup=False)


# two triangles joined by one bridge edge — the canonical two-community
# graph (also the modularity hand-case in test_round5b)
TWO_TRIANGLES = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]


# ------------------------------------------------------------- louvain


def test_louvain_recovers_two_triangles(spark):
    out = {
        r["id"]: r["c"]
        for r in louvain_one_level(
            _sym(spark, TWO_TRIANGLES), n_rounds=4
        ).collect()
    }
    assert len(out) == 6
    left = {out[0], out[1], out[2]}
    right = {out[3], out[4], out[5]}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_louvain_improves_modularity_over_singletons(spark):
    sym = symmetrize(
        tpch_edges(spark, SF_DIR, divisor=SPARSE_DIVISOR), dedup=False
    )
    labels = louvain_one_level(sym, n_rounds=4).select(
        "id", F.col("c").alias("label")
    )
    q_louvain = float(modularity(sym, labels).collect()[0]["q_s"])
    singleton = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    q_single = float(modularity(sym, singleton).collect()[0]["q_s"])
    # singleton partition has Q ≈ -Σ(d/2m)² ≤ 0; Louvain must be
    # clearly positive on this weakly-clustered graph (measured 0.114
    # at 4 rounds; LP's partition scores NEGATIVE here, so this also
    # pins Louvain > LP on community quality)
    assert q_single <= 0.0
    assert q_louvain > 0.08


def test_louvain_deterministic_across_parallelism(spark):
    sym = symmetrize(
        tpch_edges(spark, SF_DIR, divisor=SPARSE_DIVISOR), dedup=False
    )
    a = {
        r["id"]: r["c"]
        for r in louvain_one_level(sym, n_rounds=3).collect()
    }
    b = {
        r["id"]: r["c"]
        for r in louvain_one_level(
            sym.repartition(17), n_rounds=3
        ).collect()
    }
    assert a == b


def test_louvain_first_round_matches_propose_commit_replay(spark):
    """Replay round 1 in python: parity-0 vertices propose their
    integer-gain argmax S·k_vc − (tot_c − [cur]·deg)·deg with the
    (gain, stay, -c) tie-break; every proposal commits except
    singleton→singleton moves toward a larger community label (in
    round 1 ALL communities are singletons, so exactly the
    label-downhill proposals commit)."""
    import hashlib

    edges = TWO_TRIANGLES + [(5, 6), (6, 7), (0, 7)]
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(adj[v]) for v in adj}
    s_total = sum(deg.values())
    parity = {
        v: int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % 2
        for v in adj
    }
    comm = {v: v for v in adj}
    tot = collections.Counter()
    for v in adj:
        tot[comm[v]] += deg[v]
    want = {}
    for v in adj:
        if parity[v] != 0:
            continue
        kvc = collections.Counter(comm[u] for u in adj[v])
        kvc[comm[v]] += 0
        best = None
        for c, k in kvc.items():
            gain = s_total * k - (
                tot[c] - (deg[v] if c == comm[v] else 0)
            ) * deg[v]
            key = (gain, 1 if c == comm[v] else 0, -c)
            if best is None or key > best[0]:
                best = (key, c)
        if best[1] != comm[v]:
            want[v] = best[1]
    expect = dict(comm)
    csize = collections.Counter(comm.values())
    for v, c_new in want.items():
        if not (csize[comm[v]] == 1 and csize[c_new] == 1 and c_new > comm[v]):
            expect[v] = c_new
    out = {
        r["id"]: r["c"]
        for r in louvain_one_level(_sym(spark, edges), n_rounds=1).collect()
    }
    assert want, "fixture must generate at least one proposed move"
    assert out == expect


# ------------------------------------------------------------ coloring


def test_coloring_proper_and_bounded(spark):
    sym = symmetrize(
        tpch_edges(spark, SF_DIR, divisor=SPARSE_DIVISOR), dedup=False
    )
    out, rounds = greedy_coloring(sym)
    colors = {r["id"]: r["color"] for r in out.collect()}
    max_deg = (
        sym.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    # proper: no monochrome edge
    bad = (
        sym.join(out.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("color", "cs")
        .join(
            out.select(F.col("id").alias("dst"), F.col("color").alias("cd")),
            "dst",
        )
        .filter(F.col("cs") == F.col("cd"))
        .count()
    )
    assert bad == 0
    # greedy bound: mex never exceeds the colored-neighbor count
    assert max(colors.values()) <= max_deg
    # every vertex colored exactly once
    n_verts = sym.select("src").distinct().count()
    assert len(colors) == n_verts and out.count() == n_verts


def test_coloring_rounds_under_gate_unroll(spark):
    """The driver's DuckDB oracle unrolls 46 rounds on the mod-3
    sf0.01 graph; rounds grow ~log with graph size, so the sf0.001
    loop must finish well under it (sf0.01 measured 40)."""
    from __spark_entry__ import COLORING_SAMPLE_MOD

    sym = symmetrize(
        tpch_edges(
            spark,
            SF_DIR,
            divisor=SPARSE_DIVISOR,
            sample_mod=COLORING_SAMPLE_MOD,
        ),
        dedup=False,
    )
    _, rounds = greedy_coloring(sym)
    assert rounds < 46


def test_coloring_deterministic_across_parallelism(spark):
    sym = _sym(spark, TWO_TRIANGLES + [(2, 6), (6, 0), (5, 7)])
    a, _ = greedy_coloring(sym)
    b, _ = greedy_coloring(sym.repartition(13))
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def _jp_rounds(edges) -> int:
    """Jones–Plassmann rounds to color every vertex, replayed in Python
    with the engine's md5 priorities (ties by id)."""
    import hashlib

    nbrs = collections.defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    key = {v: (int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16), v) for v in nbrs}
    left, rounds = set(nbrs), 0
    while left:
        left -= {v for v in left if all(key[v] > key[u] for u in nbrs[v] & left)}
        rounds += 1
    return rounds


def test_coloring_completing_at_max_rounds_is_not_exhaustion(spark):
    """A coloring that finishes in exactly ``max_rounds`` rounds is
    complete; one round fewer leaves vertices uncolored and raises."""
    edges = [(i, i + 1) for i in range(12)] + TWO_TRIANGLES
    need = _jp_rounds(edges)
    assert need > 1
    sym = _sym(spark, edges)
    out, rounds = greedy_coloring(sym, max_rounds=need)
    assert rounds == need and out.count() == 13
    with pytest.raises(RuntimeError, match="uncolored"):
        greedy_coloring(sym, max_rounds=need - 1)


def test_coloring_mex_takes_smallest_free_color(spark):
    # star: center adjacent to 3 leaves — leaves all get color 0 or
    # the center does, and the other side gets 1; total colors = 2
    out, _ = greedy_coloring(_sym(spark, [(0, 1), (0, 2), (0, 3)]))
    colors = {r["id"]: r["color"] for r in out.collect()}
    leaf_colors = {colors[1], colors[2], colors[3]}
    assert leaf_colors == {0} and colors[0] == 1 or (
        colors[0] == 0 and leaf_colors == {1}
    )


# ----------------------------------------------------------------- bpe


def _ref_bpe(word_freqs: dict[str, int], n_merges: int, eow: str):
    """Independent sequential BPE trainer (Sennrich et al. algorithm 1,
    deterministic tie-break: max count, then lexicographically smallest
    pair)."""
    seg = {w: list(w) + [eow] for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for w, f in word_freqs.items():
            s = seg[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        mx = max(pc.values())
        if mx < 2:
            break
        a, b = sorted(k for k, v in pc.items() if v == mx)[0]
        merges.append((a, b))
        for w in seg:
            s, out = seg[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            seg[w] = out
    return merges, seg


def test_bpe_matches_reference_trainer(spark):
    from graphminer_spark.textops.bpe import EOW, train_bpe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wf = collections.Counter()
    for row in docs.select("text").collect():
        for w in row["text"].split(" "):
            if w:
                wf[w] += 1
    ref_merges, ref_seg = _ref_bpe(wf, 12, EOW)
    merges, seg = train_bpe(docs, n_merges=12)
    assert merges == ref_merges
    got = {r["word"]: list(r["syms"]) for r in seg.collect()}
    assert got == dict(ref_seg)
    seg.unpersist()


def test_bpe_merge_fold_is_leftmost_nonoverlapping(spark):
    # 'aaa' with merge (a,a) → [aa, a, EOW]: leftmost pair merges,
    # the merged token never re-merges with the trailing 'a'
    from graphminer_spark.textops.bpe import EOW, train_bpe

    docs = spark.createDataFrame(
        [("aaa aaa aaa",)], "text string"
    )
    merges, seg = train_bpe(docs, n_merges=1)
    assert merges == [("a", "a")]
    syms = seg.collect()[0]["syms"]
    assert list(syms) == ["aa", "a", EOW]
    seg.unpersist()


def test_bpe_vocab_shrinks_corpus_tokens(spark):
    from graphminer_spark.textops.bpe import bpe_token_stats, train_bpe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _, seg0 = train_bpe(docs, n_merges=0)
    _, seg8 = train_bpe(docs, n_merges=8)
    s0 = bpe_token_stats(seg0).collect()[0]
    s8 = bpe_token_stats(seg8).collect()[0]
    # every applied merge strictly reduces the corpus token count and
    # can only grow the symbol vocabulary
    assert s8["corpus_tokens"] < s0["corpus_tokens"]
    assert s8["vocab_size"] >= s0["vocab_size"]
    seg0.unpersist()
    seg8.unpersist()


def test_bpe_encode_reassembles_in_word_order(spark):
    from graphminer_spark.textops.bpe import EOW, bpe_encode, train_bpe

    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "low low")],
        "doc_id long, text string",
    )
    merges, seg = train_bpe(docs, n_merges=3)
    segmap = {r["word"]: list(r["syms"]) for r in seg.collect()}
    out = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_encode(docs, seg).collect()
    }
    for doc_id, text in [(0, "low lower lowest"), (1, "low low")]:
        expect = [t for w in text.split(" ") for t in segmap[w]]
        assert out[doc_id][0] == expect
        assert out[doc_id][1] == len(expect)
    seg.unpersist()


def test_bpe_encode_oov_falls_back_to_chars(spark):
    from graphminer_spark.textops.bpe import EOW, bpe_encode, train_bpe

    train = spark.createDataFrame([(0, "aa aa aa bb")], "doc_id long, text string")
    merges, seg = train_bpe(train, n_merges=1)
    assert merges == [("a", "a")]
    unseen = spark.createDataFrame([(7, "xyz aa")], "doc_id long, text string")
    out = {r["doc_id"]: list(r["tokens"]) for r in bpe_encode(unseen, seg).collect()}
    # 'xyz' was never trained on → character symbols + marker;
    # 'aa' uses the trained merge
    assert out[7] == ["x", "y", "z", EOW, "aa", EOW]
    seg.unpersist()


def test_louvain_weighted_follows_heavy_edges(spark):
    """Weighted form: a heavy bridge binds its endpoints into one
    community even when unit weights would separate the triangles."""
    w = {(2, 3): 100}
    rows = [
        (a, b, w.get((a, b), 1)) for a, b in TWO_TRIANGLES
    ]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    wsym = df.unionByName(
        df.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    out = {
        r["id"]: r["c"]
        for r in louvain_one_level(
            wsym, n_rounds=4, weight_col="w"
        ).collect()
    }
    assert out[2] == out[3]
    # unweighted control: the same rounds keep the triangles apart
    un = {
        r["id"]: r["c"]
        for r in louvain_one_level(
            wsym.drop("w"), n_rounds=4
        ).collect()
    }
    assert un[2] != un[3]


# ---------------------------------------------------------------- dsir


def test_dsir_weights_match_numpy(spark):
    """λ table and per-doc weights vs an independent numpy replay
    (Laplace-smoothed hashed-unigram log ratios, Xie et al. 2023)."""
    import hashlib
    import math

    from graphminer_spark.textops.dsir import (
        N_BUCKETS,
        dsir_log_ratios,
        dsir_weights,
        hashed_feature_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pdf = docs.select("doc_id", "text", "lang").collect()

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % N_BUCKETS

    ct, cr = collections.Counter(), collections.Counter()
    feats = {}
    for r in pdf:
        bs = [bucket(w) for w in r["text"].split(" ") if w]
        feats[r["doc_id"]] = bs
        for b in bs:
            cr[b] += 1
            if r["lang"] == "en":
                ct[b] += 1
    tt, tr = sum(ct.values()), sum(cr.values())
    lam_ref = {
        b: math.floor(
            10000.0
            * (
                math.log(ct[b] + 1.0)
                - math.log(tt + N_BUCKETS)
                - math.log(cr[b] + 1.0)
                + math.log(tr + N_BUCKETS)
            )
        )
        for b in range(N_BUCKETS)
    }
    target = docs.filter(F.col("lang") == "en")
    lam_df = dsir_log_ratios(
        hashed_feature_counts(target), hashed_feature_counts(docs)
    )
    lam = {r["bucket"]: r["lam_bp"] for r in lam_df.collect()}
    assert lam == lam_ref
    w = {
        r["doc_id"]: (r["n_feats"], r["logw_bp"])
        for r in dsir_weights(docs, lam_df).collect()
    }
    for doc_id, bs in feats.items():
        assert w[doc_id] == (len(bs), sum(lam_ref[b] for b in bs))


def test_dsir_favors_target_like_docs(spark):
    """English docs (the target) must carry higher mean importance
    weight per feature than the rest of the pool."""
    from graphminer_spark.textops.dsir import (
        dsir_log_ratios,
        dsir_weights,
        hashed_feature_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    lam = dsir_log_ratios(
        hashed_feature_counts(target), hashed_feature_counts(docs)
    )
    w = dsir_weights(docs, lam).join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in w.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(
            F.avg(F.col("logw_bp") / F.col("n_feats")).alias("m")
        )
        .collect()
    }
    assert means[True] > means[False]


def test_dsir_resample_deterministic_and_sized(spark):
    from graphminer_spark.textops.dsir import (
        dsir_log_ratios,
        dsir_resample,
        dsir_weights,
        hashed_feature_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    lam = dsir_log_ratios(
        hashed_feature_counts(target), hashed_feature_counts(docs)
    )
    w = dsir_weights(docs, lam)
    a = dsir_resample(docs, w, n=50)
    b = dsir_resample(docs.repartition(11), w, n=50)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert len(ids_a) == 50 and ids_a == ids_b
    # the Gumbel-perturbed draw must still lean toward the target:
    # above the 43.6% base rate (21.8/50 expected under uniform
    # sampling; deterministic fixture draws 24)
    sel = spark.createDataFrame([(i,) for i in ids_a], "doc_id long")
    n_en = (
        docs.join(sel, "doc_id").filter(F.col("lang") == "en").count()
    )
    assert n_en > 21
