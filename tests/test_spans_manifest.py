"""Round-5b operators: span-level exact-substring dedup, file-level
manifest pruning, and weighted bottom-k sampling — semantics pins plus
the plan/pruning evidence the hash-compared oracles can't carry."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators import manifest as MF
from activity_classifier_spark_cassandra_spark.operators import sampling as SM
from activity_classifier_spark_cassandra_spark.operators import spans as SP

SF_DIR = "/root/testdata/sf0.001"


# ----------------------------------------------------- span dedup
def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(rows)]
    )


def test_span_dedup_finds_cross_doc_span(spark):
    shared = "one two three four five"
    docs = _docs(
        spark,
        [
            f"intro {shared} tail tokens here",
            f"other head {shared} closing words",
            "completely different text with no repeats at all",
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in SP.span_dedup_report(docs, n=5).collect()
    }
    assert set(out) == {0, 1}
    # the shared 5-gram occupies exactly one span position per doc
    assert out[0]["dup_spans"] == 1
    assert out[0]["dup_tokens"] == 5
    assert out[1]["dup_tokens"] == 5


def test_span_dedup_union_does_not_double_count_overlap(spark):
    # 7 shared tokens -> three overlapping 5-gram positions, but the
    # union coverage is 7 tokens, not 15
    shared = "a b c d e f g"
    docs = _docs(spark, [f"x {shared} y", f"p q {shared}"])
    out = {
        r["doc_id"]: r.asDict()
        for r in SP.span_dedup_report(docs, n=5).collect()
    }
    assert out[0]["dup_spans"] == 3
    assert out[0]["dup_tokens"] == 7
    assert out[1]["dup_tokens"] == 7


def test_span_dedup_ignores_within_doc_repeats(spark):
    # the 5-gram repeats INSIDE doc 0 only -> not a cross-doc dup
    docs = _docs(
        spark,
        [
            "m n o p q filler m n o p q",
            "nothing shared with the first document here",
        ],
    )
    assert SP.span_dedup_report(docs, n=5).count() == 0


def test_span_dedup_short_docs_contribute_nothing(spark):
    docs = _docs(spark, ["one two", "one two", ""])
    assert SP.span_positions(docs, n=5).count() == 0


def test_span_dedup_no_cartesian(spark):
    plan = (
        SP.q_span_dedup(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ----------------------------------------------- manifest pruning
def test_manifest_prune_skips_files_and_stays_exact(spark):
    result, kept, total = MF.pruned_range_agg(spark, SF_DIR)
    assert 0 < kept < total  # pruning actually skipped files
    # loss-free: pruned read agrees with the full-table filter
    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
        ts_ms,
    )

    ev = load_table(spark, SF_DIR, "events")
    lo, hi = (
        ev.select(ts_ms(ev, "ts").alias("m"))
        .agg(F.min("m"), F.max("m"))
        .first()
    )
    a = lo + (hi - lo) * 3 // 8
    b = lo + (hi - lo) * 6 // 8
    ms = ts_ms(ev, "ts")
    full = (
        ev.filter((ms >= a) & (ms < b))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {r["event_type"]: r["n_events"] for r in result.collect()}
    want = {r["event_type"]: r["n_events"] for r in full.collect()}
    assert got == want


def test_manifest_stats_match_parquet_footers(spark, tmp_path):
    """Our scan-built manifest must agree with what the parquet footer
    stats say — i.e. a footer-only manifest build (the zero-data-read
    variant a lakehouse uses) would produce the same pruning."""
    import pyarrow.parquet as pq

    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
    )

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "clustered")
    MF.write_time_clustered(ev, out)
    manifest = {
        r["file"]: (r["min_ms"], r["max_ms"], r["n_rows"])
        for r in MF.build_manifest(spark, out).collect()
    }
    assert len(manifest) > 1
    for file_uri, (_, _, n_rows) in manifest.items():
        path = file_uri.removeprefix("file:")
        assert pq.ParquetFile(path).metadata.num_rows == n_rows


# ------------------------------------------- weighted bottom-k sample
def test_weighted_sample_topk_plan_and_determinism(spark):
    q = SM.q_weighted_sample(spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # top-k must run as per-partition heaps + driver merge of k rows,
    # never a total sort
    assert "TakeOrderedAndProject" in plan
    a = [r["doc_id"] for r in q.collect()]
    b = [r["doc_id"] for r in SM.q_weighted_sample(spark, SF_DIR).collect()]
    assert a == b and len(a) == SM.WEIGHTED_K


def test_weighted_sample_prefers_heavy_docs(spark):
    """Inclusion should skew toward high n_chars: the sampled docs'
    mean size must exceed the population mean (PPS property)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pop_mean = docs.agg(F.avg("n_chars")).first()[0]
    samp = SM.weighted_sample_by_size(docs, k=25).toPandas()
    assert samp["n_chars"].mean() > pop_mean


def test_weighted_sample_ticket_cap(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, n_chars=10**9), Row(doc_id=2, n_chars=0)]
    )
    out = {
        r["doc_id"]: r["tickets"]
        for r in SM.weighted_sample_by_size(docs, k=2).collect()
    }
    assert out[1] == SM.MAX_TICKETS  # capped
    assert out[2] == 1  # floor


def test_span_dedup_apply_keep_first_rule(spark, tmp_path):
    """End-to-end apply: a paragraph originating in doc 1 and copied
    into docs 2 and 3 must be cut from 2 and 3 (keep-first rule) and
    kept in 1; an unrelated doc keeps everything; totals reconcile."""
    import pandas as pd

    from activity_classifier_spark_cassandra_spark.operators.spans import (
        SPAN_N,
        q_span_dedup_apply,
    )

    para = " ".join(f"copied{i}" for i in range(12))  # 12 tokens
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                para + " tail one two three",
                "intro words here " + para,
                para,
                "fully unrelated text with unique tokens only",
            ],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    got = {r.doc_id: r for r in q_span_dedup_apply(spark, sf).collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1 holds the lowest doc_id for every shared gram: keeps all
    assert got[1].removed_tokens == 0
    assert got[1].kept_ratio == 1.0
    # docs 2 and 3: the full 12-token paragraph is covered by the
    # union of its duplicated SPAN_N-grams
    assert got[2].removed_tokens == 12
    assert got[3].removed_tokens == 12
    assert got[3].kept_tokens == 0 and got[3].kept_ratio == 0.0
    # untouched doc
    assert got[4].removed_tokens == 0 and got[4].kept_ratio == 1.0
    for r in got.values():
        assert r.kept_tokens + r.removed_tokens == r.n_tokens
    assert SPAN_N <= 12  # fixture precondition


def test_span_dedup_apply_consistent_with_report(spark):
    """Apply vs report on real testdata: a document's removed_tokens
    never exceeds the report's dup_tokens (the report counts BOTH
    sides of a duplication, the apply pass spares the first holder),
    and every doc with removed_tokens > 0 appears in the report."""
    from activity_classifier_spark_cassandra_spark.operators.spans import (
        q_span_dedup,
        q_span_dedup_apply,
    )

    sf = "/root/testdata/sf0.001"
    report = {r.doc_id: r for r in q_span_dedup(spark, sf).collect()}
    apply_ = {r.doc_id: r for r in q_span_dedup_apply(spark, sf).collect()}
    cut = {d: r for d, r in apply_.items() if r.removed_tokens > 0}
    assert cut, "testdata must exercise the cut path"
    for d, r in cut.items():
        assert d in report
        assert r.removed_tokens <= report[d].dup_tokens


# ------------------------------------------- multi-k span dedup (r9)
def test_multik_union_matches_python_replay(spark):
    """Full independent replay at sf0.001: tokenize every document the
    way the engine does, find cross-document duplicated k-grams for
    every k in MULTIK_NS, union the variable-width intervals with a
    plain sweep, and require dup_spans/dup_tokens to match exactly for
    EVERY document."""
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from activity_classifier_spark_cassandra_spark.operators.spans import (
        MULTIK_NS,
        q_span_dedup_multik,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    toks = {
        int(r.doc_id): [x for x in re.split(r"\s+", r.text) if x != ""]
        for r in t.itertuples()
    }
    holders = defaultdict(set)  # (k, gram) -> {doc_id}
    pos_by_doc = defaultdict(list)  # doc -> [(pos, end)]
    for d, tk in toks.items():
        for k in MULTIK_NS:
            for i in range(len(tk) - k + 1):
                holders[(k, " ".join(tk[i : i + k]))].add(d)
    for (k, g), ds in holders.items():
        if len(ds) < 2:
            continue
        for d in ds:
            tk = toks[d]
            for i in range(len(tk) - k + 1):
                if " ".join(tk[i : i + k]) == g:
                    pos_by_doc[d].append((i + 1, i + 1 + k))
    want = {}
    for d, iv in pos_by_doc.items():
        iv.sort()
        cov, hi = 0, 0
        for s, e in iv:
            cov += max(0, e - max(s, hi))
            hi = max(hi, e)
        want[d] = (len(iv), cov)

    got = {
        int(r.doc_id): (int(r.dup_spans), int(r.dup_tokens))
        for r in q_span_dedup_multik(spark, SF_DIR).collect()
    }
    assert got == want


def test_multik_subsumes_single_k_and_stays_bounded(spark):
    """The multi-k union must cover at least the single-k (k=5) report
    for every document and never exceed the document's token count; a
    long shared passage must register MORE covered tokens than its
    5-gram fragmentation alone (the longest-match gap this operator
    closes)."""
    from activity_classifier_spark_cassandra_spark.operators.spans import (
        q_span_dedup,
        q_span_dedup_multik,
    )

    single = {
        int(r.doc_id): (int(r.dup_tokens), int(r.n_tokens))
        for r in q_span_dedup(spark, SF_DIR).collect()
    }
    multi = {
        int(r.doc_id): (int(r.dup_tokens), int(r.n_tokens))
        for r in q_span_dedup_multik(spark, SF_DIR).collect()
    }
    assert set(single) <= set(multi)
    for d, (dt5, n) in single.items():
        dtm, nm = multi[d]
        assert nm == n
        assert dt5 <= dtm <= n, (d, dt5, dtm, n)


# ------------------------------------------- longest-match resolution
def test_longest_match_differs_from_ladder_union(spark):
    """THE fixture the operator exists for: a 22-token passage shared
    A<->B with a 7-token fringe match A<->C hanging off its edge.
    Ladder union cuts 27 tokens of A (length-blind); longest-match
    resolves the cluster at k=20 and cuts exactly the 22-token maximal
    passage, reporting longest_k = 20."""
    a = " ".join(f"t{i:02d}" for i in range(1, 31))            # t01..t30
    b = "bx1 bx2 " + " ".join(f"t{i:02d}" for i in range(1, 23)) + " bx3"
    c = "cx1 " + " ".join(f"t{i:02d}" for i in range(21, 28)) + " cx2 cx3"
    docs = _docs(spark, [a, b, c])

    union = {
        r["doc_id"]: int(r["dup_tokens"])
        for r in _multik_report(docs).collect()
    }
    longest = {
        r["doc_id"]: r.asDict()
        for r in SP.span_longest_report(docs).collect()
    }
    assert union[0] == 27                       # [1,23) u [21,28)
    assert longest[0]["cut_tokens"] == 22       # the maximal passage only
    assert longest[0]["longest_k"] == 20
    assert longest[0]["n_spans"] == 1
    # B: same 22-token passage, resolved at k=20
    assert longest[1]["cut_tokens"] == 22
    assert longest[1]["longest_k"] == 20
    # C: only the 7-token match -> its own cluster at k=5
    assert longest[2]["cut_tokens"] == 7
    assert longest[2]["longest_k"] == 5


def _multik_report(docs):
    """span_dedup_multik over an in-memory docs frame (the query loads
    from sf_dir; tests need the same plan over fixtures)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    positions = SP.span_positions_multik(docs)
    wgh = Window.partitionBy("k", "gh")
    hits = (
        positions.withColumn("_mn", F.min("doc_id").over(wgh))
        .withColumn("_mx", F.max("doc_id").over(wgh))
        .filter(F.col("_mn") != F.col("_mx"))
        .select(
            "doc_id", "n_tokens", "pos",
            (F.col("pos") + F.col("k")).alias("e"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = F.greatest(
        F.lit(0),
        F.col("e") - F.greatest(
            F.col("pos"), F.coalesce(F.max("e").over(w), F.col("pos"))
        ),
    )
    return (
        hits.select("doc_id", "n_tokens", covered.alias("covered"))
        .groupBy("doc_id", "n_tokens")
        .agg(F.sum("covered").alias("dup_tokens"))
    )


def test_longest_match_bridged_runs_keep_both(spark):
    """Two 20-token passages bridged by a 5-token match across their
    gap form ONE cluster; resolution keeps BOTH maximal 20-runs with
    exact boundaries and drops the bridge (n_spans = 2, cut = 40 of
    the 43 tokens the union would cut)."""
    p = " ".join(f"p{i:02d}" for i in range(1, 21))
    q = " ".join(f"q{i:02d}" for i in range(1, 21))
    x = f"{p} m1 m2 m3 {q}"
    y = f"yy1 {p} yy2 yy3 {q} yy4"
    z = "z1 p20 m1 m2 m3 q01 z2"
    docs = _docs(spark, [x, y, z])
    longest = {
        r["doc_id"]: r.asDict()
        for r in SP.span_longest_report(docs).collect()
    }
    union = {
        r["doc_id"]: int(r["dup_tokens"])
        for r in _multik_report(docs).collect()
    }
    assert union[0] == 43
    assert longest[0]["n_spans"] == 2
    assert longest[0]["cut_tokens"] == 40
    assert longest[0]["longest_k"] == 20
    # Z keeps its 5-token bridge match (its own cluster, no longer rung)
    assert longest[2]["cut_tokens"] == 5
    assert longest[2]["longest_k"] == 5


def test_longest_match_python_replay_sf0001(spark):
    """Independent replay at sf0.001: per-(doc,k) interval merge, then
    touch/overlap clustering across rungs, then longest-rung
    resolution — n_spans/longest_k/cut_tokens must match exactly for
    every document."""
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from activity_classifier_spark_cassandra_spark.operators.spans import (
        MULTIK_NS,
        q_span_dedup_longest,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    toks = {
        int(r.doc_id): [x for x in re.split(r"\s+", r.text) if x != ""]
        for r in t.itertuples()
    }
    holders = defaultdict(set)
    for d, tk in toks.items():
        for k in MULTIK_NS:
            for i in range(len(tk) - k + 1):
                holders[(k, " ".join(tk[i : i + k]))].add(d)
    iv_by_doc_k = defaultdict(list)  # (doc, k) -> [(s, e)]
    for (k, g), ds in holders.items():
        if len(ds) < 2:
            continue
        for d in ds:
            tk = toks[d]
            for i in range(len(tk) - k + 1):
                if " ".join(tk[i : i + k]) == g:
                    iv_by_doc_k[(d, k)].append((i + 1, i + 1 + k))

    def merge(iv):
        iv.sort()
        out = []
        for s, e in iv:
            if out and s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        return out

    runs_by_doc = defaultdict(list)  # doc -> [(s, e, k)]
    for (d, k), iv in iv_by_doc_k.items():
        for s, e in merge(iv):
            runs_by_doc[d].append((s, e, k))
    want = {}
    for d, runs in runs_by_doc.items():
        runs.sort()
        clusters, hi = [], None
        for s, e, k in runs:
            if hi is None or s > hi:
                clusters.append([])
                hi = e
            else:
                hi = max(hi, e)
            clusters[-1].append((s, e, k))
        resolved = []
        for cl in clusters:
            kmax = max(k for _, _, k in cl)
            resolved += [(s, e, kmax) for s, e, k in cl if k == kmax]
        want[d] = (
            len(resolved),
            max(k for _, _, k in resolved),
            sum(e - s for s, e, _ in resolved),
        )

    got = {
        int(r.doc_id): (int(r.n_spans), int(r.longest_k), int(r.cut_tokens))
        for r in q_span_dedup_longest(spark, SF_DIR).collect()
    }
    assert got == want


def test_apply_longest_first_holder_keeps_text(spark):
    """Keep-first splice: the lowest doc_id holding the passage keeps
    its text verbatim; every other holder loses exactly its resolved
    longest-match spans."""
    a = " ".join(f"t{i:02d}" for i in range(1, 31))
    b = "bx1 bx2 " + " ".join(f"t{i:02d}" for i in range(1, 23)) + " bx3"
    c = "cx1 " + " ".join(f"t{i:02d}" for i in range(21, 28)) + " cx2 cx3"
    docs = _docs(spark, [a, b, c])

    from pyspark.sql import functions as F

    from activity_classifier_spark_cassandra_spark.operators.spans import (
        _TOKENIZE_SPARK,
        span_longest_runs,
    )

    spans = span_longest_runs(docs, keep_first=True)
    cutlists = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("cuts")
    )
    toks = docs.select("doc_id", F.expr(_TOKENIZE_SPARK).alias("toks"))
    kept = (
        "CASE WHEN cuts IS NULL THEN toks ELSE "
        "filter(toks, (t, i) -> "
        "NOT exists(cuts, c -> i + 1 >= c.s AND i + 1 < c.e)) END"
    )
    out = {
        r["doc_id"]: r["dedup_text"]
        for r in toks.join(cutlists, "doc_id", "left")
        .select(
            "doc_id", F.array_join(F.expr(kept), " ").alias("dedup_text")
        )
        .collect()
    }
    assert out[0] == a                      # first holder untouched
    assert out[1] == "bx1 bx2 bx3"          # 22-token passage spliced
    assert out[2] == "cx1 cx2 cx3"          # 7-token fringe spliced


def test_apply_longest_python_replay_sf0001(spark):
    """Token-exact replay of the full detect -> resolve -> splice
    chain at sf0.001: dedup_text must match for EVERY document."""
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from activity_classifier_spark_cassandra_spark.operators.spans import (
        MULTIK_NS,
        q_span_dedup_apply_longest,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    toks = {
        int(r.doc_id): [x for x in re.split(r"\s+", r.text) if x != ""]
        for r in t.itertuples()
    }
    holders = defaultdict(set)
    for d, tk in toks.items():
        for k in MULTIK_NS:
            for i in range(len(tk) - k + 1):
                holders[(k, " ".join(tk[i : i + k]))].add(d)
    iv_by_doc_k = defaultdict(list)
    for (k, g), ds in holders.items():
        if len(ds) < 2:
            continue
        first = min(ds)
        for d in ds:
            if d == first:
                continue
            tk = toks[d]
            for i in range(len(tk) - k + 1):
                if " ".join(tk[i : i + k]) == g:
                    iv_by_doc_k[(d, k)].append((i + 1, i + 1 + k))

    def merge(iv):
        iv.sort()
        out = []
        for s, e in iv:
            if out and s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
        return out

    runs_by_doc = defaultdict(list)
    for (d, k), iv in iv_by_doc_k.items():
        for s, e in merge(iv):
            runs_by_doc[d].append((s, e, k))
    want = {}
    for d, tk in toks.items():
        runs = sorted(runs_by_doc.get(d, []))
        clusters, hi = [], None
        for s, e, k in runs:
            if hi is None or s > hi:
                clusters.append([])
                hi = e
            else:
                hi = max(hi, e)
            clusters[-1].append((s, e, k))
        cuts = []
        for cl in clusters:
            kmax = max(k for _, _, k in cl)
            cuts += [(s, e) for s, e, k in cl if k == kmax]
        kept = [
            tok
            for i, tok in enumerate(tk, start=1)
            if not any(s <= i < e for s, e in cuts)
        ]
        want[d] = " ".join(kept)

    got = {
        int(r.doc_id): r.dedup_text
        for r in q_span_dedup_apply_longest(spark, SF_DIR).collect()
    }
    assert got == want
