#!/usr/bin/env python
"""Round-13 optimization measurement harness (guide §1: measure first).

Modes:
  plans [names...]        — write .explain("formatted") for the named queries
                            (default: all headline) to plans/<round>/<name>_<suffix>.txt
                            (round via $BDRR_PLANS_ROUND, default r14; --suffix, default "before").
  audit                   — plan-shape sweep over the WHOLE catalog: count
                            Exchange nodes, join strategies, BatchEvalPython/
                            ArrowEvalPython presence, scans without pushed
                            filters; one JSON line per query to stdout.
  profile <name> [runs]   — run one query (noop sink) with the Spark UI on,
                            then dump per-job/per-stage wall + shuffle bytes
                            from the REST API, sorted by stage time.
  time [names...]         — best-of-3 wall per named query (default headline),
                            labeled jobs, one JSON line at the end.

All execution flows through the noop sink (guide §1.4) so the computation is
timed, not the sink, and Catalyst cannot prune unused columns the way a
count() would (the CLAUDE.md SimHash measurement trap).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def get_session(ui: bool = False):
    from bigdata_retailrocket_recsys_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"} if ui else None
    spark = get_spark("bdrr-perf", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def plan_str(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def headline_names(queries) -> list[str]:
    return [n for n, q in sorted(queries.items()) if q.headline]


def mode_plans(args: list[str]) -> None:
    suffix = "before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2 :]
    from bigdata_retailrocket_recsys_spark.plans import QUERIES

    spark = get_session()
    names = args or headline_names(QUERIES)
    outdir = os.path.join(
        REPO_ROOT, "plans", os.environ.get("BDRR_PLANS_ROUND", "r14")
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name].fn(spark, SF_DIR)
        txt = plan_str(df)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        print(f"{name}: {len(txt)} bytes, {n_ex} Exchange -> {path}")


def _plan_shape(txt: str) -> dict:
    import re

    shape = {
        "exchange": len(re.findall(r"\bExchange\b", txt)),
        "reused_exchange": txt.count("ReusedExchange"),
        "smj": txt.count("SortMergeJoin"),
        "bhj": txt.count("BroadcastHashJoin"),
        "shj": txt.count("ShuffledHashJoin"),
        "bnlj": txt.count("BroadcastNestedLoopJoin"),
        "cartesian": txt.count("CartesianProduct"),
        "batch_eval_python": txt.count("BatchEvalPython"),
        "arrow_eval_python": txt.count("ArrowEvalPython"),
        "map_in_arrow": txt.count("MapInArrow") + txt.count("MapInPandas"),
        "window": txt.count(" Window"),
        "sort": txt.count("Sort "),
        "scans": txt.count("Scan parquet") + txt.count("Scan csv"),
        "scans_unpushed": 0,
    }
    # scans with empty PushedFilters AND no partition filters
    for m in re.finditer(r"PushedFilters: \[\]", txt):
        shape["scans_unpushed"] += 1
    return shape


def mode_audit(args: list[str]) -> None:
    from bigdata_retailrocket_recsys_spark.plans import QUERIES

    spark = get_session()
    names = args or sorted(QUERIES)
    results = {}
    for name in names:
        try:
            df = QUERIES[name].fn(spark, SF_DIR)
            txt = plan_str(df)
            results[name] = _plan_shape(txt)
        except Exception as e:  # noqa: BLE001 — audit sweep must finish
            results[name] = {"error": str(e)[:200]}
        print(json.dumps({name: results[name]}), flush=True)
    bad = {
        n: s
        for n, s in results.items()
        if s.get("batch_eval_python") or s.get("cartesian")
    }
    print(json.dumps({"_flagged": sorted(bad)}))


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def mode_profile(args: list[str]) -> None:
    name = args[0]
    runs = int(args[1]) if len(args) > 1 else 1
    from bigdata_retailrocket_recsys_spark.plans import QUERIES

    spark = get_session(ui=True)
    sc = spark.sparkContext
    base = f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}/api/v1/applications/{sc.applicationId}"

    q = QUERIES[name]
    walls = []
    first_job = None
    for i in range(runs):
        sc.setJobDescription(f"{name} run{i}")
        t0 = time.perf_counter()
        materialize(q.fn(spark, SF_DIR))
        walls.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
    jobs = _rest(base, "/jobs")
    stages = _rest(base, "/stages?status=complete")
    # jobs for the LAST run only (warm numbers)
    tag = f"{name} run{runs - 1}"
    run_jobs = [j for j in jobs if (j.get("description") or "") == tag]
    job_ids = {j["jobId"] for j in run_jobs}
    stage_ids = set()
    for j in run_jobs:
        stage_ids.update(j.get("stageIds", []))
    rows = []
    for s in stages:
        if s["stageId"] not in stage_ids:
            continue
        dur = None
        if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t0 = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
            t1 = datetime.strptime(s["completionTime"], fmt)
            dur = (t1 - t0).total_seconds()
        rows.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:80],
                "tasks": s.get("numCompleteTasks"),
                "wall_s": round(dur, 3) if dur is not None else None,
                "task_time_s": round(s.get("executorRunTime", 0) / 1000, 2),
                "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 2),
            }
        )
    rows.sort(key=lambda r: -(r["wall_s"] or 0))
    print(json.dumps({"query": name, "walls": walls, "n_jobs": len(run_jobs),
                      "n_stages": len(rows)}))
    for r in rows:
        print(json.dumps(r))


def mode_time(args: list[str]) -> None:
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    from bigdata_retailrocket_recsys_spark.plans import QUERIES

    spark = get_session()
    names = args or headline_names(QUERIES)
    out = {}
    for name in names:
        q = QUERIES[name]
        best = float("inf")
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} r{i}")
            t0 = time.perf_counter()
            materialize(q.fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}", flush=True)
    print(json.dumps({"queries": out, "total": round(sum(out.values()), 3)}))


def main() -> None:
    mode, *args = sys.argv[1:]
    {
        "plans": mode_plans,
        "audit": mode_audit,
        "profile": mode_profile,
        "time": mode_time,
    }[mode](args)


if __name__ == "__main__":
    main()
