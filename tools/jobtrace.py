"""Event-log job-timeline summarizer (optimization rounds).

Runs ONE catalog query with Spark event logging enabled and decomposes
its wall-clock into driver-sequenced jobs vs inter-job driver gaps —
the evidence format VERDICT r13 asked for on driver-latency claims
(prose "the chain is job-count-bound" becomes "N jobs, X s inside
jobs, Y s of gaps, top offenders by description").

Usage:
    python tools/jobtrace.py q285_journaled_store_reconciliation \
        [--sf /root/testdata/sf0.1] [--no-warmup] [--top 15]

Methodology matches bench.py's timed region: sf0.001 codegen warmup of
the probed query first (untimed, its jobs excluded by submission-time
filter), `clearCache()` before the timed run, full materialization
through the noop sink. The session is created fresh in this process
with eventLog on (the config must precede session creation — do not
import this after something else built the session).

Output: one human-readable summary per query — stdout only, no JSON
contract (developer tool, not the driver bench).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from superstore_data_pipeline_analytics_dashboard__spark.plans.catalog_queries import (
    QUERIES,
)


def _open_log(path: str):
    if path.endswith(".zstd"):
        import zstandard  # shipped with pyspark

        fh = zstandard.ZstdDecompressor().stream_reader(open(path, "rb"))
        import io

        return io.TextIOWrapper(fh, encoding="utf-8")
    if path.endswith(".lz4"):
        import lz4.frame

        return lz4.frame.open(path, "rt", encoding="utf-8")
    return open(path, "r", encoding="utf-8")


def summarize(log_path, t_cut_ms: int, t_end_ms: int, top: int) -> dict:
    """Parse JobStart/JobEnd events submitted in [``t_cut_ms``,
    ``t_end_ms``). ``log_path`` is one file or a list of rolled files in
    order."""
    starts: dict[int, dict] = {}
    jobs: list[dict] = []
    paths = log_path if isinstance(log_path, list) else [log_path]
    for p in paths:
        with _open_log(p) as fh:
            for line in fh:
                if '"SparkListenerJob' not in line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev
                elif kind == "SparkListenerJobEnd":
                    st = starts.pop(ev["Job ID"], None)
                    if st is None or not (
                        t_cut_ms <= st["Submission Time"] < t_end_ms
                    ):
                        continue
                    props = st.get("Properties") or {}
                    stages = st.get("Stage Infos") or []
                    stage_name = stages[-1]["Stage Name"] if stages else ""
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "t0": st["Submission Time"],
                            "t1": ev["Completion Time"],
                            "desc": props.get("spark.job.description")
                            or props.get("callSite.short")
                            or stage_name,
                        }
                    )
    jobs.sort(key=lambda j: j["t0"])
    in_job = sum(j["t1"] - j["t0"] for j in jobs) / 1000.0
    gaps = [
        max(0, jobs[i + 1]["t0"] - jobs[i]["t1"]) for i in range(len(jobs) - 1)
    ]
    by_desc: dict[str, list[float]] = defaultdict(list)
    for j in jobs:
        by_desc[j["desc"]].append((j["t1"] - j["t0"]) / 1000.0)
    return {
        "n_jobs": len(jobs),
        "in_job_sec": in_job,
        "gap_sec": sum(gaps) / 1000.0,
        "max_job_sec": max((j["t1"] - j["t0"] for j in jobs), default=0)
        / 1000.0,
        "jobs": jobs,
        "by_desc": sorted(
            ((sum(v), len(v), d) for d, v in by_desc.items()), reverse=True
        )[:top],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")

    log_dir = tempfile.mkdtemp(prefix="jobtrace_")
    # eventLog config must exist before the JVM launches; PySpark's
    # SparkSession.builder is a fresh Builder per access, so the only
    # reliable pre-session injection point is the submit args env var
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir={log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    from superstore_data_pipeline_analytics_dashboard__spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="superstore-jobtrace")
    spark.sparkContext.setLogLevel("ERROR")

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        print(f"# WARNING: {warm_dir} absent, warming at --sf scale")
        warm_dir = args.sf

    results = []
    for name in args.names:
        fn = QUERIES[name]
        if not args.no_warmup:
            spark.catalog.clearCache()
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        t_cut_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        # the window closes when the timed run returns, so the next
        # query's warmup jobs are not counted as this query's
        results.append((name, t_cut_ms, int(time.time() * 1000) + 1, wall))
        time.sleep(0.05)
    spark.stop()

    logs = sorted(glob.glob(f"{log_dir}/*"), key=os.path.getmtime)
    if not logs:
        raise SystemExit(f"no event log written under {log_dir}")
    log_path = logs[-1]
    if os.path.isdir(log_path):
        # Spark 4 rolling (v2) layout: a directory of events_N_* files
        parts = sorted(glob.glob(f"{log_path}/events_*"))
        if not parts:
            raise SystemExit(f"no events_* files under {log_path}")
        log_path = parts
    for name, t_cut_ms, t_end_ms, wall in results:
        s = summarize(log_path, t_cut_ms, t_end_ms, args.top)
        print(f"== {name}  wall={wall:.2f}s")
        print(
            f"   jobs={s['n_jobs']}  in_job={s['in_job_sec']:.2f}s"
            f"  gaps={s['gap_sec']:.2f}s  max_job={s['max_job_sec']:.2f}s"
        )
        print("   top job groups (total_s, n, description):")
        for tot, cnt, desc in s["by_desc"]:
            print(f"     {tot:7.2f}s  n={cnt:<4d} {desc[:110]}")
    print(f"# event log kept at {log_path}")


if __name__ == "__main__":
    main()
