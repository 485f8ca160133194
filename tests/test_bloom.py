"""Bloom-pruned incremental dedup (ops/bloom.py) and BM25 retrieval.

The oracle gate (tools/check_correctness.py, driver replica) already
cross-checks both against DuckDB at sf0.01; these tests pin the parts
the gate can't see: the bitmap mechanics, the no-false-negative
invariant, that the prune actually prunes, and BM25's arithmetic
against a from-scratch Python recomputation.
"""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import drain

SF = "/root/testdata/sf0.001"


def test_bloom_verdicts_match_relational_mechanism(spark):
    # the implementation's broadcast-bitmap plan must land on the same
    # verdicts as the macro SQL run through Spark itself (engine held
    # constant, mechanism varied — the cross-engine check is the gate's)
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.bloom import dedup_bloom
    from skewer_spark.ops.portable import to_spark

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    got = sorted(map(tuple, dedup_bloom(spark, SF).collect()))
    want = sorted(map(tuple, spark.sql(to_spark(C.dedup_bloom_sql())).collect()))
    assert got == want and len(got) > 0


def test_bloom_prune_no_false_negatives_and_actually_prunes(spark):
    from skewer_spark.ops.bloom import (
        bloom_fixture,
        bloom_prune,
        build_bloom_bitmap,
    )

    hist, batch = bloom_fixture(spark, SF)
    bm = build_bloom_bitmap(batch)
    surv = bloom_prune(spark, hist, bm)
    surv_ids = {r.doc_id for r in surv.collect()}
    # every history row whose hash occurs in the batch MUST survive
    bh = {r.h for r in batch.select(F.md5("text").alias("h")).collect()}
    must = {
        r.doc_id
        for r in hist.select("doc_id", F.md5("text").alias("h")).collect()
        if r.h in bh
    }
    assert must <= surv_ids
    # and the prune must actually shrink the scan (the whole point):
    # at the gate M/K the filter passes dups + a small FP tail
    n_hist = hist.count()
    assert len(surv_ids) < n_hist / 2, (len(surv_ids), n_hist)


def test_bloom_stats_row_is_consistent(spark):
    from skewer_spark.ops.bloom import bloom_stats

    row = bloom_stats(spark, SF).first()
    assert row.survivor_rows <= row.history_rows
    assert row.fp_survivor_rows <= row.survivor_rows
    # survivors = true hits + false positives; true-hit history rows
    # are at least one per duplicated batch doc
    assert row.exact_dup_rows > 0
    assert (
        row.survivor_rows - row.fp_survivor_rows <= row.history_rows
    )


def test_bloom_bitmap_bounded_by_filter_size(spark):
    # the driver collect in build_bloom_bitmap is bounded by M (filter
    # size), never data size: distinct positions <= M
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.bloom import bloom_fixture, build_bloom_bitmap

    _, batch = bloom_fixture(spark, SF)
    bm = build_bloom_bitmap(batch)
    assert bm.nbytes == C.BLOOM_M // 8
    import numpy as np

    set_bits = int(sum(bin(int(w)).count("1") for w in bm))
    n_batch = batch.count()
    assert 0 < set_bits <= min(C.BLOOM_M, n_batch * C.BLOOM_K)


def test_bm25_matches_from_scratch_python(spark):
    # recompute BM25 (k1=6/5, b=3/4, rational idf) from raw tokens in
    # plain Python floats — same IEEE ops, so scores must be EXACTLY
    # equal after FMT6 formatting — and check the top-k ranking
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    out = spark.sql(to_spark(C.bm25_topk_sql())).collect()
    assert out, "bm25_topk returned no rows"

    rows = docs.select("doc_id", "text").collect()
    tf: dict[tuple[int, str], int] = {}
    df: dict[str, int] = {}
    dl: dict[int, int] = {}
    for r in rows:
        words = r.text.split(" ")
        dl[r.doc_id] = len(words)
        seen = set()
        for w in words:
            tf[(r.doc_id, w)] = tf.get((r.doc_id, w), 0) + 1
            seen.add(w)
        for w in seen:
            df[w] = df.get(w, 0) + 1
    n_docs, total_len = len(dl), sum(dl.values())
    ranked_terms = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    # ranks 6..15 -> queries 1..5 pairing rank i with i+5
    sel = ranked_terms[5:15]
    queries = {qid + 1: (sel[qid][0], sel[qid + 5][0]) for qid in range(5)}

    def score(qid: int, d: int) -> float:
        s = 0.0
        for t in queries[qid]:
            if (d, t) not in tf:
                continue
            n_t = (n_docs - df[t] + 1) * tf[(d, t)] * 22 * total_len
            d_t = (df[t] + 1) * (
                10 * total_len * tf[(d, t)] + 3 * total_len
                + 9 * dl[d] * n_docs
            )
            s += n_t / d_t
        return s

    for r in out:
        want = score(r.query_id, r.doc_id)
        got = float(r.score)
        assert math.isclose(got, want, rel_tol=0, abs_tol=5e-7), (
            r.query_id, r.doc_id, got, want,
        )
    # per query: ranks are 1..k, scores non-increasing, and rank-1 is
    # the true argmax over ALL matching docs per the python recompute
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        scores = [float(r.score) for r in rs]
        assert scores == sorted(scores, reverse=True)
        matching = [
            d for d in dl
            if any((d, t) in tf for t in queries[qid])
        ]
        best = min(matching, key=lambda d: (-score(qid, d), d))
        assert rs[0].doc_id == best


def test_bloom_plan_never_shuffles_history(spark):
    # the whole point at 10^12 history rows: the history side is scan ->
    # JVM probe projection -> Arrow membership filter; the exact
    # resolution is a BROADCAST join of the (tiny) survivor hash set —
    # no SortMergeJoin, no history-sized exchange anywhere
    from skewer_spark.ops.bloom import dedup_bloom

    plan = (
        dedup_bloom(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_dedup_stream_bounded_state_invariants(spark, tmp_path):
    # stream the corpus in 3 doc_id-range micro-batches with planted
    # duplicates; assert (a) the unique table's texts are globally
    # distinct, (b) every true duplicate (hash seen in an earlier batch
    # or earlier in its own batch) lands in suspect, (c) the state file
    # is exactly BLOOM_M bits and survives for resume
    import time as _time

    import numpy as np

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.streaming import bloom_dedup_stream

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    n = len(docs)
    indir = tmp_path / "in"
    indir.mkdir()
    schema = "doc_id long, text string"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(indir / name))
        _time.sleep(0.05)

    third = n // 3
    b1 = [(r.doc_id, r.text) for r in docs[:third]]
    # batch 2: fresh docs + re-sends of 5 batch-1 texts (cross-batch dups)
    b2 = [(r.doc_id, r.text) for r in docs[third : 2 * third]] + [
        (10_000 + i, docs[i].text) for i in range(5)
    ]
    # batch 3: fresh docs + an intra-batch dup pair
    b3 = [(r.doc_id, r.text) for r in docs[2 * third :]] + [
        (20_000, docs[2 * third].text)
    ]
    write_file("f1", b1)
    write_file("f2", b2)
    write_file("f3", b3)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "f*"))
    )
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    q = bloom_dedup_stream(stream, spark, str(out), str(ckpt))
    drain(q, 120)

    uniq = spark.read.parquet(str(out / "unique")).collect()
    sus = spark.read.parquet(str(out / "suspect")).collect()
    assert len(uniq) + len(sus) == len(b1) + len(b2) + len(b3)
    # (a) no false negatives -> unique texts globally distinct
    texts = [r.text for r in uniq]
    assert len(texts) == len(set(texts))
    # (b) every planted duplicate is in suspect
    sus_ids = {r.doc_id for r in sus}
    assert {10_000 + i for i in range(5)} <= sus_ids
    assert 20_000 in sus_ids
    # (c) bounded, persisted state
    bm = np.load(str(ckpt / "bloom_state.npy"))
    assert bm.nbytes == C.BLOOM_M // 8
    # FP tail should be a small minority of the corpus at gate M/K
    fp = len(sus) - 6
    assert fp < n / 4, (fp, n)


def test_substr_pairs_matches_python_recompute(spark):
    # full from-scratch recompute of the content-defined seed stage at
    # sf0.001: same grams, same 1/p selection, same hot prune, same
    # pair counts — and the content-defined property itself (a gram is
    # selected wherever it occurs, at any offset in any doc)
    import hashlib
    from collections import Counter

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    out = {
        (r.doc_a, r.doc_b): r.n_shared_seeds
        for r in spark.sql(to_spark(C.substr_pairs_sql())).collect()
    }

    k, p, cap = C.SUBSTR_K, C.SUBSTR_P, C.SUBSTR_CAP

    def selected(text: str) -> set[str]:
        grams = {text[i : i + k] for i in range(len(text) - k + 1)}
        return {
            g
            for g in grams
            if int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % p == 0
        }

    sel = {
        r.doc_id: selected(r.text)
        for r in docs.select("doc_id", "text").collect()
    }
    df = Counter(g for gs in sel.values() for g in gs)
    want: dict[tuple[int, int], int] = {}
    ids = sorted(sel)
    inv: dict[str, list[int]] = {}
    for d in ids:
        for g in sel[d]:
            if df[g] <= cap:
                inv.setdefault(g, []).append(d)
    for g, ds in inv.items():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                want[(ds[i], ds[j])] = want.get((ds[i], ds[j]), 0) + 1
    assert out == want and len(out) > 0


def test_substr_resolve_spans_are_certified_common_substrings(spark):
    # every reported (seed, shared_len) must correspond to an ACTUAL
    # common substring of the two docs containing the seed — recompute
    # the greedy extension in Python and verify both the length and
    # the substring equality
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    out = spark.sql(to_spark(C.substr_resolve_sql())).collect()
    assert out
    k = C.SUBSTR_K
    for r in out:
        ta, tb = texts[r.doc_a], texts[r.doc_b]
        pa, pb = ta.index(r.seed), tb.index(r.seed)
        left = 0
        while pa - left - 1 >= 0 and pb - left - 1 >= 0 and \
                ta[pa - left - 1] == tb[pb - left - 1]:
            left += 1
        right = 0
        while pa + k + right < len(ta) and pb + k + right < len(tb) and \
                ta[pa + k + right] == tb[pb + k + right]:
            right += 1
        assert r.shared_len == k + left + right, (r.doc_a, r.doc_b)
        span_a = ta[pa - left : pa + k + right]
        span_b = tb[pb - left : pb + k + right]
        assert span_a == span_b and r.seed in span_a


def test_pq_rerank_recall_is_high(spark):
    # PQ-ADC shortlist + exact re-rank must hold high recall on the
    # fixture embeddings (random-ish unit vectors — the hard case);
    # the per-query values are oracle-checked, this pins the LEVEL
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    spark.read.parquet(f"{SF}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )
    rows = spark.sql(to_spark(C.ann_pq_recall_sql())).collect()
    assert rows
    mean = sum(float(r.recall) for r in rows) / len(rows)
    assert mean >= 0.85, mean


def test_cms_matches_duckdb_and_never_undercounts(spark):
    # the gate-shaped check a registry slot will run in round 5 (the
    # round-4 driver window is saturated): identical rows from Spark
    # and DuckDB, plus the CMS structural invariant est >= exact
    import duckdb

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_duck, to_spark

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    got = sorted(map(tuple, spark.sql(to_spark(C.hot_keys_cms_sql())).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    want = sorted(
        map(tuple, con.execute(to_duck(C.hot_keys_cms_sql())).fetchall())
    )
    assert got == want and len(got) == 20
    assert all(r[3] >= 0 for r in got)  # overcount = est - cnt >= 0


def test_cms_stream_accumulates_exactly_and_estimates_upper_bound(
    spark, tmp_path
):
    # the streamed grid over 3 micro-batches must EQUAL the one-pass
    # batch grid (integer adds commute), survive on disk for resume,
    # and estimates must upper-bound exact counts
    import time as _time

    import numpy as np

    from skewer_spark.ops.cms import (
        cms_estimate,
        cms_grid_from_df,
        cms_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "explode(split(text, ' ')) AS term"
    )
    full_grid = cms_grid_from_df(docs, "term")

    rows = docs.collect()
    third = len(rows) // 3
    indir = tmp_path / "in"
    indir.mkdir()
    schema = "doc_id long, term string"
    for i, chunk in enumerate(
        (rows[:third], rows[third : 2 * third], rows[2 * third :])
    ):
        spark.createDataFrame(
            [(r.doc_id, r.term) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(indir / f"f{i}"))
        _time.sleep(0.05)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "f*"))
    )
    ckpt = tmp_path / "ckpt"
    q = cms_stream(stream, spark, str(ckpt), "term")
    drain(q, 120)

    streamed = np.load(str(ckpt / "cms_state.npy"))
    assert (streamed == full_grid).all()
    # estimates upper-bound exact counts for the 10 most common terms
    from collections import Counter

    exact = Counter(r.term for r in rows)
    top = [t for t, _ in exact.most_common(10)]
    est = cms_estimate(streamed, top)
    assert all(est[t] >= exact[t] for t in top), (est, exact)


def test_bloom_stream_preserves_underscore_user_columns(spark, tmp_path):
    # output columns are exactly the input columns: a user column that
    # merely shares a helper PREFIX (_priority vs _p1.._pK) must
    # survive to both tables, and a true helper-name collision must be
    # refused loudly before the stream starts
    import time as _time

    import pytest

    from skewer_spark.streaming import bloom_dedup_stream

    indir = tmp_path / "docs"
    indir.mkdir()
    spark.createDataFrame(
        [(1, "alpha", 7), (2, "beta", 8), (3, "alpha", 9)],
        "doc_id long, text string, _priority int",
    ).coalesce(1).write.mode("overwrite").parquet(str(indir / "f0"))
    _time.sleep(0.05)

    stream = (
        spark.readStream.schema("doc_id long, text string, _priority int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "f*"))
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = bloom_dedup_stream(stream, spark, str(out), str(ckpt))
    drain(q, 120)
    uniq = spark.read.parquet(str(out / "unique"))
    assert set(uniq.columns) == {"doc_id", "text", "_priority"}
    pri = {r["doc_id"]: r["_priority"] for r in uniq.collect()}
    assert pri[1] == 7 and pri[2] == 8
    susp = spark.read.parquet(str(out / "suspect"))
    assert {r["doc_id"] for r in susp.collect()} == {3}
    assert set(susp.columns) == {"doc_id", "text", "_priority"}

    bad = (
        spark.readStream.schema("doc_id long, text string, _h string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "f*"))
    )
    with pytest.raises(ValueError, match="_h"):
        bloom_dedup_stream(bad, spark, str(tmp_path / "o2"), str(tmp_path / "c2"))


def test_cms_grid_ignores_null_keys(spark):
    # a NULL key hashes to a NULL position; numpy indexing with None is
    # np.newaxis, which would add the null count to EVERY counter in a
    # sketch row — estimates for all keys silently inflated
    from skewer_spark.ops.cms import cms_estimate, cms_grid_from_df

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "term string"
    )
    grid = cms_grid_from_df(df, "term")
    est = cms_estimate(grid, ["a", "b", "never-seen"])
    assert est["a"] == 2
    assert est["b"] == 1
    assert est["never-seen"] == 0  # would be inflated by the null row
