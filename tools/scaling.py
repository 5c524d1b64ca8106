"""Scale-ladder bench: measure the most expensive headline queries at
three input decades and report per-query scaling exponents (r7 VERDICT
Next #4 — "prove the 100×-scale claim empirically").

Ladder points: sf0.01 and sf0.1 (driver testdata) plus the generated
sf1 (tools/scaleup.py — same statistical shape, 10× sf0.1 rows). The
x-axis per query is its PRIMARY TABLE's row count (documents and
embeddings do not scale at the same rate in the driver data), and the
reported exponent is

    alpha = log(t_hi / t_lo) / log(n_hi / n_lo)

between the top two decades (the largest inputs dominate noise least);
alpha ≈ 1 is linear scaling, the target for every audited query.

Each (query, sf) point is the median of REPS noop-write materializations
in one shared JVM (the bench.py policy), caches released between reps.

Usage: python tools/scaling.py [--reps 3] [--queries a,b,c]
       python tools/scaling.py --correctness [--queries a,b,c]
Writes: prints the table, merges a "scaling_ladder" object into
BENCH_AUX.json (builder-owned — the driver overwrites BENCH_LOCAL.json
every round, which clobbered these records twice, r8 VERDICT "What's
wrong" #1), and rewrites the ladder section of SCALING.md between its
markers.

--correctness (r8 VERDICT Next #7): instead of timing, hash-check the
ladder queries AT SF1 against their DuckDB oracles — the ladder times
sf1 but the driver only hash-grades sf0.01, so scale-dependent
wrongness (overflow, skew-dependent tie-breaks, margin cuts) would
otherwise be invisible. Uses diffcheck's canonical compare (row count,
columns, dtype drift, value-normalized sorted rows) and merges a
"scaling_correctness" block into BENCH_AUX.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: query -> primary table (the x-axis of its exponent)
LADDER_QUERIES = {
    "pretraining_pipeline": "documents",
    "pagerank_doc_graph": "embeddings",
    "decontam_remove_spans": "documents",
    "exact_contamination_documents": "documents",
    "ann_pca_rerank_recall_embeddings": "embeddings",
    "curation_pipeline": "documents",
    "dedup_components": "documents",
    "text_repetition_signals": "documents",
    "dedup_ngram_jaccard": "documents",
    # the capped twin, laddered right under the exact form so the table
    # shows the scale swap beating it at sf1 (r10 VERDICT Next #2)
    "dedup_ngram_jaccard_capped": "documents",
    "bitext_mine_margin": "embeddings",
    # --- events/streaming family (r9: sf1 events generated so this
    # --- family gets its third decade too) ---------------------------
    "scd2_user_event_intervals": "events",
    "events_retention_cohorts": "events",
    "events_funnel_counts": "events",
    "streaming_interval_join_counts": "events",
    # --- relational family (late r9: sf1 TPC-H-shape tables generated —
    # --- every table family the engine queries is now laddered) ------
    "q1_pricing_summary": "lineitem",
    "q3_top_unshipped": "lineitem",
    "q5_region_revenue": "lineitem",
    # --- r12 additions: the new layout + quantile-sketch families ----
    "zorder_box_prune_events": "events",
    "hdr_quantile_order_totals": "orders",
    # --- r13 additions: the incremental-maintenance forms + the HLL
    # --- set-algebra matrix ------------------------------------------
    "zorder_append_box_scan": "events",
    "hdr_store_merged_quantiles": "orders",
    "hll_vocab_overlap_sources": "documents",
    "bloom_prefilter_join_orders": "orders",
}

SF_DIRS = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(REPO, ".scale", "sf1")),
]

MARK_BEGIN = "<!-- ladder:begin -->"
MARK_END = "<!-- ladder:end -->"


def _table_rows(spark, sf_dir):
    rows = {}
    for t in ("documents", "embeddings", "events", "lineitem", "orders"):
        rows[t] = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    return rows


def _merge_aux(key: str, value) -> None:
    bench_path = os.path.join(REPO, "BENCH_AUX.json")
    if os.path.exists(bench_path):
        with open(bench_path) as fh:
            bench = json.load(fh)
    else:
        bench = {}
    bench[key] = value
    from tools.gitinfo import atomic_json_dump

    atomic_json_dump(bench, bench_path, indent=2)


#: oracles that cannot run at sf1 in this container, with the named
#: reason recorded in the scaling_correctness block. pagerank's oracle
#: replays the FULL N² cosine graph in SQL — at 20 k × 64-d DuckDB
#: materializes a ~400 GB pair intermediate and fills the disk (hit
#: once: ENOSPC after >79 GB of .tmp spill). Its sf0.01 hash grade plus
#: the Spark-side partition-independence pins carry it; the Spark sf1
#: RUN is still timed in the ladder.
SKIP_SF1_ORACLE = {
    # r12: pagerank_doc_graph and knn_edges_ivf_embeddings moved OUT of
    # this skip table — their full N² oracles stay infeasible at sf1
    # (pagerank's ~400 GB pair intermediate filled the disk once; knn's
    # ~100M pair scores tripped the 20GB temp guard), but each now
    # carries a SAMPLED deterministic sf1 verdict instead of a skip
    # (r11 VERDICT Next #3): see SAMPLED_SF1_RUNNERS below and
    # oracles.SAMPLED_SF1_ORACLES for the sampling rule.
    # r13 (r12 VERDICT Next #2): the table is now EMPTY — the four
    # remaining r11 named skips (dedup_simhash,
    # dedup_embedding_cosine, dedup_embedding_cosine_blocked,
    # hard_negatives_embeddings) were RE-MEASURED on this host before
    # reaching for the sampled-verdict pattern, and every one of their
    # full oracles is feasible at sf1 under the same 20GB-temp/48GB-mem
    # guards that fenced them in r11: simhash's ~1.25B-pair hamming
    # cross product 7.8s, embedding-cosine's ~200M-pair scoring 16.3s,
    # hard_negatives 0.8s (its "~0.9·N²" r11 estimate double-counted —
    # the pair set is anchors×corpus ≈ 4M, linear in anchors). All four
    # now carry FULL sf1 oracle grades in scaling_correctness —
    # strictly stronger than the sampled verdicts the r12 verdict asked
    # for. Future infeasible-oracle entries still land here, with the
    # sampled-runner pattern as the fallback.
}

#: queries whose sf1 hash match is VACUOUS (0 == 0 rows), with the
#: measured data-property cause. EMPTY since r10: the one r9 entry
#: (pretraining_pipeline — the 515-doc benchmark slice's 3-grams
#: saturated the shared 30-token 3-gram space and the decontamination
#: gate removed all 49,484 train docs) was fixed in tools/scaleup.py by
#: drawing the benchmark slice from a disjoint uppercased vocabulary,
#: so every pipeline stage keeps a non-empty frame (VERDICT Next #4).
VACUOUS_SF1 = {}

#: EXPECTED sf1 deviations — the verdict column, not the engine,
#: breaks at scale, with the measured cause. Reported as a named
#: deviation, not a failure. EMPTY since r10: the one r9 entry
#: (ann_pca_rerank_recall_embeddings' fixed-pool per-query floor) was
#: fixed by making the contract scale-aware — pool = ceil(0.025·N) and
#: a corpus-mean recall verdict — so the same registry row passes at
#: every sf (r10 VERDICT Next #3).
EXPECTED_SF1 = {}


def _cmp(sdf, odf) -> list[str]:
    """diffcheck's compare (rowcount, columns, dtype drift, canonical
    values) as a reusable helper for the sampled runners."""
    from tools.diffcheck import _dtype_drift, canon

    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        problems.append("columns differ")
    else:
        problems.extend(_dtype_drift(sdf, odf))
    if not problems and canon(sdf) != canon(odf):
        problems.append("values differ")
    return problems


def _sampled_knn_edges_ivf(spark, con, sf_dir: str) -> dict:
    """Sampled sf1 verdict for knn_edges_ivf_embeddings: the FULL
    production query runs, its output is restricted to the
    deterministic source sample (src % 97 = 0 — per-src top-k makes
    the restriction exact), and the oracle replays seeding/assignment
    over ALL vectors but probes/scores only the sampled sources."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.oracles import SAMPLED_SF1_ORACLES
    from lovdata_pipeline_spark.queries import QUERIES

    spec = SAMPLED_SF1_ORACLES["knn_edges_ivf_embeddings"]
    sdf = (
        QUERIES["knn_edges_ivf_embeddings"](spark, sf_dir)
        .where(F.col("src") % 97 == 0)
        .toPandas()
    )
    odf = con.execute(spec["sql"]).df()
    problems = _cmp(sdf, odf)
    return {
        "rows": len(sdf),
        "hash_match": not problems,
        "sampled": spec["rule"],
        **({"problems": problems} if problems else {}),
    }


def _sampled_pagerank(spark, con, sf_dir: str) -> dict:
    """Sampled+staged sf1 verdict for pagerank_doc_graph. Rank is a
    global fixpoint, so node sampling cannot grade it directly; two
    deterministic stages compose instead: (A) the exact 3-NN edge
    build — the super-linear half — hash-checked for sampled sources
    (src % 97 = 0) against ALL candidates; (B) the registry query's
    top-20 ranks hash-checked against the 3-iteration integer replay
    in SQL over the FULL Spark-built edge set."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.graph import knn_edges
    from lovdata_pipeline_spark.oracles import SAMPLED_SF1_ORACLES
    from lovdata_pipeline_spark.queries import QUERIES

    spec = SAMPLED_SF1_ORACLES["pagerank_doc_graph"]
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # the checkpoint spares the stage-A filter and the stage-B parquet
    # write from each re-running the blocked build; stage B's QUERIES
    # call below deliberately re-runs the REGISTRY row from scratch so
    # the graded artifact is the actual registry query, not a local
    # re-composition that could drift from it — a second ~15 s blocked
    # build at sf1, accepted (r12 review: the sampling scheme exists to
    # bound the ORACLE's N² SQL, not Spark's O(N²/B) build, which is
    # the row's graded contract and ladder-timed at sf1)
    edges = knn_edges(emb, k=3).localCheckpoint(eager=True)
    # stage A: sampled exact edge build
    sdf = edges.where(F.col("src") % 97 == 0).orderBy("src", "rk").toPandas()
    odf = con.execute(spec["sql_edges"]).df()
    problems = [f"edges: {p}" for p in _cmp(sdf, odf)]
    # stage B: full rank replay over the Spark edges
    tmp = tempfile.mkdtemp(prefix="pr_sf1_edges_")
    try:
        edges.select("src", "dst").write.mode("overwrite").parquet(tmp)
        con.execute(
            "CREATE OR REPLACE VIEW spark_knn_edges AS "
            f"SELECT * FROM '{tmp}/*.parquet'"
        )
        sdf2 = QUERIES["pagerank_doc_graph"](spark, sf_dir).toPandas()
        odf2 = con.execute(spec["sql_ranks"]).df()
        problems += [f"ranks: {p}" for p in _cmp(sdf2, odf2)]
    finally:
        con.execute("DROP VIEW IF EXISTS spark_knn_edges")
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "rows": len(sdf) + len(sdf2),
        "hash_match": not problems,
        "sampled": spec["rule"],
        **({"problems": problems} if problems else {}),
    }


#: registry rows whose sf1 verdict is a SAMPLED deterministic check
#: because the full oracle is N²-infeasible (r11 VERDICT Next #3); the
#: sampling rule rides in the record and in oracles.SAMPLED_SF1_ORACLES
SAMPLED_SF1_RUNNERS = {
    "knn_edges_ivf_embeddings": _sampled_knn_edges_ivf,
    "pagerank_doc_graph": _sampled_pagerank,
}


def run_correctness(names: list[str], sf_dir: str | None = None) -> int:
    """Spark-vs-DuckDB hash check of the ladder queries at sf1 (or, with
    ``--sf-dir``, any other decade — r10 VERDICT Next #7 grades
    pagerank_doc_graph at sf0.1, where its N² oracle is feasible; such
    records carry an explicit "sf" field so the evidence never
    mislabels its scale)."""
    import duckdb

    from tools.diffcheck import _dtype_drift, canon

    from lovdata_pipeline_spark.oracles import ORACLES
    from lovdata_pipeline_spark.queries import QUERIES, TABLES
    from lovdata_pipeline_spark.session import get_spark

    sf1 = sf_dir or dict(SF_DIRS)["sf1"]
    # realpath both sides: a relative spelling or trailing slash of the
    # sf1 dir must still resolve to the "sf1" label, or the
    # SKIP_SF1_ORACLE guard is bypassed and an infeasible oracle's
    # guard-trip is recorded as a spurious FAIL under a mislabeled
    # scale key (r10 review)
    _real = os.path.realpath(sf1)
    label = next(
        (lbl for lbl, d in SF_DIRS if os.path.realpath(d) == _real), sf1
    )
    if not os.path.isdir(sf1):
        sys.exit(f"{sf1} missing — run tools/scaleup.py first")
    spark = get_spark("scaling-correctness")
    con = duckdb.connect()
    # resource guards: an infeasible oracle must FAIL FAST, not fill the
    # disk (first run died ENOSPC on an unbounded .tmp spill)
    tmp = os.path.join(REPO, ".tmp", "duck_sf1")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET max_temp_directory_size='20GB'")
    con.execute("SET memory_limit='48GB'")
    substituted = []  # tables graded at sf0.1 because sf1 is missing
    for t in TABLES:
        p = os.path.join(sf1, f"{t}.parquet")
        if os.path.exists(p):
            src = p
        else:
            # r9 ADVICE: a silent fallback mislabels the scale evidence
            # — record (and print) every substitution so a recorded
            # 'sf1' match over a substituted table is visibly sf0.1
            src = f"/root/testdata/sf0.1/{t}.parquet"
            substituted.append(t)
            print(f"WARN  table {t}: no sf1 parquet — grading sf0.1 data",
                  flush=True)
        if os.path.isdir(src):  # Spark-written table = directory of parts
            src = os.path.join(src, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    out, failures = {}, []
    for name in names:
        if name in SAMPLED_SF1_RUNNERS and label == "sf1":
            t0 = time.time()
            try:
                rec = SAMPLED_SF1_RUNNERS[name](spark, con, sf1)
            except Exception as exc:
                rec = {"hash_match": False, "error": str(exc)[:300]}
            rec["sec"] = round(time.time() - t0, 1)
            if rec.get("hash_match") is not True:
                failures.append(name)
            out[name] = rec
            tag = "ok(s)" if rec.get("hash_match") else "FAIL "
            detail = "; ".join(rec.get("problems", [])) or rec.get("error", "")
            print(
                f"{tag} {name:36s} {rec.get('rows', 0):7d} rows "
                f"({rec['sec']}s) sampled verdict"
                + (f"; {detail}" if detail else ""),
                flush=True,
            )
            spark.catalog.clearCache()
            continue
        if name in SKIP_SF1_ORACLE and label == "sf1":
            out[name] = {"hash_match": None, "skipped": SKIP_SF1_ORACLE[name]}
            print(f"skip  {name:36s} {SKIP_SF1_ORACLE[name][:60]}...", flush=True)
            continue
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, sf1).toPandas()
            odf = con.execute(ORACLES[name]).df()
        except Exception as exc:
            failures.append(name)
            out[name] = {"hash_match": False, "error": str(exc)[:300]}
            print(f"FAIL  {name:36s} {exc}", flush=True)
            spark.catalog.clearCache()
            continue
        problems = _cmp(sdf, odf)
        ok = not problems
        expected = (not ok) and name in EXPECTED_SF1
        if not ok and not expected:
            failures.append(name)
        out[name] = {
            "rows": len(sdf),
            "hash_match": ok,
            "sec": round(time.time() - t0, 1),
            **({"sf": label} if label != "sf1" else {}),
            **({"problems": problems} if problems else {}),
            **({"vacuous": VACUOUS_SF1[name]} if name in VACUOUS_SF1 and ok else {}),
            **({"expected_deviation": EXPECTED_SF1[name]} if expected else {}),
        }
        tag = "ok   " if ok else ("DEV  " if expected else "FAIL ")
        print(f"{tag} {name:36s} {len(sdf):7d} rows "
              f"({out[name]['sec']}s) {'; '.join(problems)}", flush=True)
        spark.catalog.clearCache()
    spark.stop()
    # per-query merge: a --queries subset extends, not replaces, the
    # recorded block (the ladder-merge rule)
    bench_path = os.path.join(REPO, "BENCH_AUX.json")
    prior = {}
    prior_subst = []
    if os.path.exists(bench_path):
        with open(bench_path) as fh:
            prior_block = json.load(fh).get("scaling_correctness", {})
        prior = prior_block.get("queries", {})
        prior_subst = prior_block.get("substituted_tables_sf0.1", [])
    if label != "sf1":
        # keep the sf1 row (if any) intact: a mid-scale grade records
        # under "<name>@<label>" alongside it
        out = {f"{k}@{label}": v for k, v in out.items()}
    # stamp the tree each record batch describes (r10 VERDICT Next #3) —
    # per-record, since the block merges across runs/trees
    from tools.gitinfo import tree_sha

    _tree = tree_sha()
    for v in out.values():
        v["tree_sha"] = _tree
    block = {"sf": "sf1", "queries": {**prior, **out}}
    # honest evidence: any recorded match touching these tables graded
    # sf0.1 data on the oracle side (the Spark side would have failed
    # outright on the missing sf1 path). UNION with the prior run's
    # disclosure — a later clean subset run must not silently drop the
    # annotation qualifying records it kept (r10 review).
    all_subst = sorted(set(prior_subst) | set(substituted))
    if all_subst:
        block["substituted_tables_sf0.1"] = all_subst
    _merge_aux("scaling_correctness", block)
    n_dev = sum(1 for r in out.values() if "expected_deviation" in r)
    n_skip = sum(1 for r in out.values() if "skipped" in r)
    n_ok = sum(1 for r in out.values() if r.get("hash_match") is True)
    print(f"\n{n_ok}/{len(names)} hash-match at {label}"
          + (f" + {n_skip} named oracle skip(s)" if n_skip else "")
          + (f" + {n_dev} expected data-property deviation(s), documented"
             if n_dev else ""))
    return 1 if failures else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", help="comma-separated subset")
    ap.add_argument(
        "--correctness",
        action="store_true",
        help="hash-check the ladder queries at sf1 instead of timing",
    )
    ap.add_argument(
        "--sf-dir",
        help="with --correctness: grade against this decade's parquet dir "
        "instead of the generated sf1 (records carry an explicit sf tag)",
    )
    args = ap.parse_args()

    from bench import release_caches
    from lovdata_pipeline_spark.queries import QUERIES
    from lovdata_pipeline_spark.session import get_spark

    names = list(LADDER_QUERIES)
    if args.queries:
        names = [n for n in args.queries.split(",") if n]
        # fail fast BEFORE the Spark warmup: an unknown name used to
        # KeyError mid-run, and a name missing from LADDER_QUERIES
        # silently fell back to table='documents' — the wrong x-axis
        # for an embeddings query (r8 ADVICE)
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            ap.error(f"not in the query registry: {', '.join(unknown)}")
        unladdered = [n for n in names if n not in LADDER_QUERIES]
        if unladdered and not args.correctness:
            ap.error(
                "no LADDER_QUERIES primary-table entry for: "
                + ", ".join(unladdered)
                + " — add (query, table) to tools/scaling.py first"
            )

    if args.correctness:
        sys.exit(run_correctness(names, sf_dir=args.sf_dir))

    spark = get_spark("scaling-ladder")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    counts = {label: _table_rows(spark, d) for label, d in SF_DIRS}
    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        table = LADDER_QUERIES.get(name, "documents")
        per_sf = {}
        for label, d in SF_DIRS:
            samples = []
            for _ in range(args.reps):
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                samples.append(time.time() - t0)
                release_caches(spark)
            samples.sort()
            per_sf[label] = round(samples[len(samples) // 2], 3)
            print(f"  {name} @ {label}: {per_sf[label]}s (n={counts[label][table]})",
                  flush=True)
        n_lo, n_hi = counts["sf0.1"][table], counts["sf1"][table]
        t_lo, t_hi = per_sf["sf0.1"], per_sf["sf1"]
        alpha = math.log(t_hi / t_lo) / math.log(n_hi / n_lo)
        n0, t0_ = counts["sf0.01"][table], per_sf["sf0.01"]
        alpha_lo = math.log(t_lo / t0_) / math.log(n_lo / n0)
        results[name] = {
            "table": table,
            "times": per_sf,
            "rows": {label: counts[label][table] for label, _ in SF_DIRS},
            "alpha_top": round(alpha, 2),
            "alpha_low": round(alpha_lo, 2),
        }
    spark.stop()

    # render the markdown table
    lines = [
        "| query | table | sf0.01 s | sf0.1 s | sf1 s | alpha (0.1→1) | alpha (0.01→0.1) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        t = r["times"]
        lines.append(
            f"| {name} | {r['table']} | {t['sf0.01']} | {t['sf0.1']} | {t['sf1']} "
            f"| {r['alpha_top']} | {r['alpha_low']} |"
        )
    table_md = "\n".join(lines)
    print(table_md)

    # per-query merge: a --queries subset must extend, not replace, the
    # recorded ladder
    bench_path = os.path.join(REPO, "BENCH_AUX.json")
    prior = {}
    if os.path.exists(bench_path):
        with open(bench_path) as fh:
            prior = json.load(fh).get("scaling_ladder", {})
    _merge_aux("scaling_ladder", {**prior, **results})

    if set(names) != set(LADDER_QUERIES):
        # a --queries subset must not clobber the full ladder table in
        # SCALING.md; its numbers are printed and merged into BENCH_AUX
        print("subset run: SCALING.md table left untouched "
              "(full-set runs rewrite it)")
        return
    scaling_path = os.path.join(REPO, "SCALING.md")
    content = open(scaling_path).read() if os.path.exists(scaling_path) else ""
    block = f"{MARK_BEGIN}\n{table_md}\n{MARK_END}"
    if MARK_BEGIN in content and MARK_END in content:
        pre = content.split(MARK_BEGIN)[0]
        post = content.split(MARK_END)[1]
        content = pre + block + post
        with open(scaling_path, "w") as fh:
            fh.write(content)
        print(f"updated ladder section in {scaling_path}")
    else:
        # don't lose a multi-minute measurement to a marker typo: the
        # results are already in BENCH_AUX.json and printed above
        print("SCALING.md is missing a ladder marker; add both and re-run "
              "(table printed above, results saved to BENCH_AUX.json)")


if __name__ == "__main__":
    main()
