"""The repository's benchmark: the superstore ELT and the dashboard it feeds.

    python3 perfbench/run.py --workload elt_batch --seed 1 --seconds 18 --trace 0

Workloads (README.md says why each was chosen):

* ``elt_batch``  — a closed loop of batch loads of one seeded messy CSV:
  ``run`` + ``write_star`` into a fresh directory. One pass is one load.
* ``dash_serve`` — a closed loop of dashboard requests against a star
  built once in set-up, with ``stg`` and ``fact`` cached. One
  pass serves each of the five request kinds (a slicer pivot and the four
  ``v_*`` views) once, in seeded order.

Each run is one client on ``local[nproc]``. Set-up (session start, input
generation, warm-up) is timed apart from the measured region; outputs are
checked after each pass, outside it. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics, read from
a Spark event log, with ``--trace 1``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from decimal import Decimal  # noqa: E402
from fractions import Fraction  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen_messy_csv as gen  # noqa: E402
import eventlog as evlog  # noqa: E402

#: records in elt_batch's CSV; one load of it is a pass. A warm load
#: costs about 8 s whatever its size plus 6–9 s per 100k records, so at
#: this size about half of a pass grows with the rows (README.md says why
#: not more)
ELT_ROWS = 100_000
#: records in the CSV the elt_batch warm-up loads once. The first load in a
#: fresh JVM compiles every plan and takes about 30 s. After a warm-up of
#: 300 or 5,000 records the next load still runs 15–20 % slower than a
#: settled one, as the JIT compiles the per-row code; after one of this
#: size it runs about 7 % slower
WARM_ROWS = 20_000
#: records behind dash_serve's star: the size of the reference Superstore
#: dataset
DASH_ROWS = 9_994
#: dash_serve's request kinds besides the slicer pivot
VIEWS = ("v_rolling30", "v_customer_cohort", "v_top_products_by_subcat", "v_suspicious_discounts")
#: dash_serve's warm passes. The first pass in a fresh JVM takes about
#: 1.4 times a settled one and the second about 1.1–1.2 times. That second
#: pass is the first timed one; it is nearly always the slowest of the
#: timed passes, so their median does not read it (README.md says why not
#: more warm passes)
DASH_WARM = 1
#: the tail percentile reported, and the fewest requests a run serves;
#: 15 requests leave 4 samples above it (README.md says why not more)
TAIL_PCT = 75
MIN_REQUESTS = 15
DRIVER_MEM = "4g"


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks (any sample count ≥ 1)."""
    v = sorted(values)
    k = (len(v) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def more(passes: list[float], seconds: float) -> bool:
    """Whether the timed region starts another pass: the first always, and
    each further one while a median pass still fits in ``seconds``."""
    return not passes or sum(passes) + statistics.median(passes) <= seconds


def configure(work: Path, trace: bool) -> None:
    """Pin the session to the cores this process may use, and keep every
    file the run writes (Spark scratch, temp files, event log) under
    ``work``. Must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the launcher's too, would otherwise keep a perf-data file
    # under /tmp while it runs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        (work / "events").mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={work / 'events'}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Client:
    """One closed-loop client. With tracing on, every public call runs
    under its own job group and its wall time is kept for the trace."""

    def __init__(self, spark, P, trace: bool):
        self.spark, self.P, self.trace = spark, P, trace
        self.sc = spark.sparkContext
        self.calls: list[dict] = []  # traced calls: layer, group, wall, timed
        self.timed = False

    def call(self, layer: str, fn):
        if not self.trace:
            return fn()
        gid = f"{layer}#{len(self.calls)}"
        self.sc.setJobGroup(gid, layer)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.calls.append(
                {"layer": layer, "group": gid, "wall": time.perf_counter() - t0, "timed": self.timed}
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def note(self, layer: str, **values) -> None:
        """Attach numbers measured outside a call to its latest trace record."""
        if self.trace:
            next(x for x in reversed(self.calls) if x["layer"] == layer).update(values)

    def request(self, build) -> dict[str, list]:
        """One dashboard request: build the frames, plan, collect them all."""
        def go():
            t0 = time.perf_counter()
            frames = build()
            t1 = time.perf_counter()
            if self.trace:
                plans = [df._jdf.queryExecution().executedPlan().toString() for df in frames.values()]
                split["hit"] = all("InMemoryTableScan" in p for p in plans)
            t2 = time.perf_counter()
            out = {k: df.collect() for k, df in frames.items()}
            split.update(construct=t1 - t0, plan=t2 - t1, exec=time.perf_counter() - t2)
            return out

        split: dict = {}
        out = self.call("dashboard", go)
        self.note("dashboard", **split)
        return out


# ------------------------------------------------------------ expectations


def pivot_buckets(kept):
    """(Region, Segment) → (Category → [rows, Σqty], (year, month) → [rows, Σqty])."""
    buckets = defaultdict(lambda: (defaultdict(lambda: [0, 0]), defaultdict(lambda: [0, 0])))
    for r in kept:
        by_cat, by_ym = buckets[(r.region, r.segment)]
        for acc in (by_cat[r.category], by_ym[(r.order_date.year, r.order_date.month)]):
            acc[0] += 1
            acc[1] += r.quantity
    return buckets


def expected_pivots(buckets, regions, segments) -> dict[str, list]:
    """What ``dashboard_superstore`` must return, tallied in plain Python."""
    cat, ym = Counter(), Counter()
    cat_n, ym_n = Counter(), Counter()
    for (region, segment), (by_cat, by_ym) in buckets.items():
        if (regions and region not in regions) or (segments and segment not in segments):
            continue
        for k, (n, q) in by_cat.items():
            cat_n[k] += n
            cat[k] += q
        for k, (n, q) in by_ym.items():
            ym_n[k] += n
            ym[k] += q
    total_n = sum(cat_n.values())
    total_q = sum(cat.values()) if total_n else None
    by_category = [(k, cat_n[k], cat_n[k], cat[k]) for k in cat_n]
    by_category.append(("Grand Total", total_n, total_n, total_q))
    by_year_month = [(y, m, ym_n[(y, m)], ym_n[(y, m)], ym[(y, m)]) for (y, m) in ym_n]
    for y in {y for y, _ in ym_n}:
        n = sum(v for (yy, _), v in ym_n.items() if yy == y)
        q = sum(v for (yy, _), v in ym.items() if yy == y)
        by_year_month.append((y, -1, n, n, q))
    by_year_month.append((-1, -1, total_n, total_n, total_q))
    return {"by_category": sorted(by_category), "by_year_month": sorted(by_year_month)}


def got_pivots(out: dict[str, list]) -> dict[str, list]:
    return {k: sorted(tuple(r) for r in rows) for k, rows in out.items()}


def expected_view_rows(kept) -> dict[str, int]:
    """Row counts of the four qa views, tallied in plain Python."""
    suspicious = sum(
        1 for r in kept
        if r.discount != "0" and not Fraction(1, 20) <= Fraction(r.profit, r.sales) <= Fraction(1, 2)
    )
    profit = defaultdict(lambda: defaultdict(int))
    for r in kept:
        profit[r.subcategory][r.product_id] += r.profit
    top = 0
    for sums in profit.values():
        vals = sorted(sums.values(), reverse=True)
        top += sum(1 for v in vals if 1 + sum(1 for w in vals if w > v) <= 5)
    return {
        "v_rolling30": len(kept),
        "v_customer_cohort": len({(r.customer_id, r.order_date.year, r.order_date.month) for r in kept}),
        "v_top_products_by_subcat": top,
        "v_suspicious_discounts": suspicious,
    }


def check_star(out: Path, truth: dict) -> list[str]:
    """Read the written star back with DuckDB and hold it to the sidecar."""
    import duckdb

    problems = []
    con = duckdb.connect()
    try:
        fact = f"read_parquet('{out}/fact_sales/*/*.parquet', hive_partitioning = true)"
        n, sales, profit, qty, orders, orphans = con.execute(
            f"SELECT count(*), sum(Sales), sum(Profit), sum(Quantity), count(DISTINCT OrderID),"
            f" count(*) FILTER (WHERE OrderDateKey IS NULL OR ShipDateKey IS NULL"
            f" OR CustomerKey IS NULL OR ProductKey IS NULL OR ShipModeKey IS NULL"
            f" OR GeographyKey IS NULL) FROM {fact}"
        ).fetchone()
        got = {"rows_after_dedup": n, "sum_sales": sales, "sum_profit": profit,
               "sum_quantity": qty, "distinct_orders": orders}
        want = {**{k: truth[k] for k in got}, "sum_sales": Decimal(truth["sum_sales"]),
                "sum_profit": Decimal(truth["sum_profit"])}
        problems += [f"fact {k}: {got[k]} != {want[k]}" for k in got if got[k] != want[k]]
        if orphans:
            problems.append(f"fact: {orphans} rows with an unresolved key")
        for dim, rows in truth["dim_rows"].items():
            (m,) = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{dim}/*.parquet')").fetchone()
            if m != rows:
                problems.append(f"{dim}: {m} rows != {rows}")
    finally:
        con.close()
    return problems


# ------------------------------------------------------------ workloads


def elt_inputs(seed: int, work: Path) -> dict:
    csv, warm_csv = work / "input.csv", work / "warm.csv"
    truth, _ = gen.generate(str(csv), ELT_ROWS, seed)
    gen.generate(str(warm_csv), WARM_ROWS, seed + 1)
    return {"csv": csv, "warm_csv": warm_csv, "truth": truth}


def elt_batch(c: Client, inputs: dict, seed: int, seconds: float, work: Path) -> dict:
    P, spark = c.P, c.spark
    csv, warm_csv, truth = (inputs[k] for k in ("csv", "warm_csv", "truth"))

    def load(path: Path, out: Path):
        layers = c.call("run", lambda: P.run(spark, str(path)))
        c.call("write_star", lambda: P.write_star(layers, str(out)))
        return layers

    def finish(out: Path):
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)

    out = work / "warm"
    t0 = time.perf_counter()
    load(warm_csv, out)
    warm = [time.perf_counter() - t0]
    finish(out)

    c.timed = True
    t_timed = time.perf_counter()
    passes, failed, problems = [], 0, []
    while more(passes, seconds):
        out = work / f"star{len(passes)}"
        t0 = time.perf_counter()
        try:
            layers = load(csv, out)
            dt = time.perf_counter() - t0
            bad = check_star(out, truth)
            qa = {r["IssueType"]: r["RowCount"] for r in layers["qa_issues"].collect()}
            if qa != truth["qa_issues"]:
                bad.append(f"qa_issues {qa} != {truth['qa_issues']}")
            c.note("write_star", files=sum(1 for _ in out.rglob("*.parquet")))
        except Exception:  # a failed load is counted, and the loop goes on
            dt = time.perf_counter() - t0
            bad = [traceback.format_exc()]
        finish(out)
        passes.append(dt)
        failed += bool(bad)
        problems += bad
    return {
        "setup_s": t_timed - T_START,
        "warm": warm,
        "passes": passes,
        "latencies": passes,
        "rows_per_s": ELT_ROWS / statistics.median(passes),
        "attempted": len(passes),
        "failed": failed,
        "problems": problems,
    }


def dash_inputs(seed: int, work: Path) -> dict:
    csv = work / "input.csv"
    _, kept = gen.generate(str(csv), DASH_ROWS, seed)
    return {"csv": csv, "buckets": pivot_buckets(kept), "want_views": expected_view_rows(kept)}


def dash_serve(c: Client, inputs: dict, seed: int, seconds: float, work: Path) -> dict:
    P, spark = c.P, c.spark
    csv, buckets, want_views = (inputs[k] for k in ("csv", "buckets", "want_views"))
    layers = c.call("run", lambda: P.run(spark, str(csv)))
    fact = layers["fact"]
    # run cached stg (by its date-dim action) and marked fact for caching;
    # no request reads the star's files, so set-up fills fact's cache
    # instead of writing it
    fact.count()
    dims = {k[4:]: v for k, v in layers.items() if k.startswith("dim_")}
    rng = random.Random(seed)

    def session() -> list[tuple]:
        """One pass: a slicer request on seeded Region/Segment subsets and
        one request per view, in seeded order."""
        ops = [("slicer", tuple(rng.sample(gen.REGIONS, rng.randint(1, 4))),
                tuple(rng.sample(gen.SEGMENTS, rng.randint(1, 3))))]
        ops += [(v, None, None) for v in VIEWS]
        rng.shuffle(ops)
        return ops

    def serve(op):
        kind, regions, segments = op
        if kind == "slicer":
            return c.request(lambda: P.dashboard_superstore(layers, list(regions), list(segments)))
        view = getattr(P, kind)
        return c.request(lambda: {kind: view(fact) if kind == "v_suspicious_discounts" else view(fact, dims)})

    def check(op, out) -> str | None:
        kind, regions, segments = op
        if kind == "slicer":
            if got_pivots(out) != expected_pivots(buckets, regions, segments):
                return f"pivots for {regions} x {segments} differ from the tally"
        elif len(out[kind]) != want_views[kind]:
            return f"{kind}: {len(out[kind])} rows != {want_views[kind]}"
        return None

    warm = []
    while len(warm) < DASH_WARM:
        t0 = time.perf_counter()
        for op in session():
            serve(op)
        warm.append(time.perf_counter() - t0)

    c.timed = True
    t_timed = time.perf_counter()
    passes, latencies, results = [], [], []
    while more(passes, seconds) or len(latencies) < MIN_REQUESTS:
        t_pass = time.perf_counter()
        for op in session():
            t0 = time.perf_counter()
            try:
                results.append((op, serve(op), None))
            except Exception:  # a failed request is counted, and the loop goes on
                results.append((op, None, traceback.format_exc()))
            latencies.append(time.perf_counter() - t0)
        passes.append(time.perf_counter() - t_pass)
    by_kind = defaultdict(list)
    for (op, _, _), dt in zip(results, latencies):
        by_kind[op[0]].append(dt)
    problems = [err or check(op, out) for op, out, err in results]
    problems = [p for p in problems if p]
    return {
        "setup_s": t_timed - T_START,
        "warm": warm,
        "passes": passes,
        "latencies": latencies,
        "by_kind": {k: statistics.median(v) for k, v in by_kind.items()},
        "attempted": len(results),
        "failed": len(problems),
        "problems": problems,
    }


#: workload → (input generation in pure Python, the client loop)
WORKLOADS = {"elt_batch": (elt_inputs, elt_batch), "dash_serve": (dash_inputs, dash_serve)}


# ------------------------------------------------------------ metrics


def end_to_end(r: dict) -> dict:
    pass_s = statistics.median(r["passes"])
    lat = r["latencies"]
    # every pass makes the same number of operations
    per_pass = len(lat) / len(r["passes"])
    return {
        "setup_s": (r["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        f"query_p{TAIL_PCT}_s": (percentile(lat, TAIL_PCT), "s"),
        "qps": (per_pass / pass_s, "1/s"),
    }


def per_layer(c: Client, r: dict, log: Path, get_spark_s: float, rss_mb: float) -> dict:
    groups = evlog.parse(log)
    by_layer = defaultdict(list)
    for call in c.calls:
        by_layer[call["layer"]].append(call)
    # a layer's numbers come from the measured region when it ran there
    # (set-up calls otherwise), as a median per call
    rows = {}
    for layer, calls in by_layer.items():
        timed = [x for x in calls if x["timed"]] or calls
        for x in timed:
            g = groups.get(x["group"], evlog.Group())
            x.update(jobs=g.jobs, in_job=g.in_job_s, gap=max(0.0, x["wall"] - g.in_job_s),
                     input_mb=g.input_bytes / evlog.MB, shuffle_mb=g.shuffle_write_bytes / evlog.MB,
                     output_mb=g.output_bytes / evlog.MB)
        rows[layer] = timed

    def med(layer, key):
        """Median over the layer's calls that got this far; a call that
        raised lacks the numbers measured after it, and none may be left."""
        vals = [x[key] for x in rows.get(layer, ()) if key in x]
        return statistics.median(vals) if vals else 0.0

    hits = [x["hit"] for x in rows.get("dashboard", ()) if "hit" in x]
    run, ws, dash = "plans.superstore_pipeline.run", "plans.superstore_pipeline.write_star", \
        "plans.superstore_pipeline.dashboard"
    return {
        "session.get_spark.wall_s": (get_spark_s, "s"),
        "session.jvm_rss_peak_mb": (rss_mb, "MB"),
        f"{run}.wall_s": (med("run", "wall"), "s"),
        f"{run}.jobs": (med("run", "jobs"), "count"),
        f"{run}.in_job_s": (med("run", "in_job"), "s"),
        f"{run}.gap_s": (med("run", "gap"), "s"),
        f"{run}.input_mb": (med("run", "input_mb"), "MB"),
        f"{run}.shuffle_write_mb": (med("run", "shuffle_mb"), "MB"),
        "sources.messy_csv.input_mb_per_s": (
            med("run", "input_mb") / max(med("run", "in_job"), 1e-9), "MB/s"),
        f"{ws}.wall_s": (med("write_star", "wall"), "s"),
        f"{ws}.jobs": (med("write_star", "jobs"), "count"),
        f"{ws}.gap_s": (med("write_star", "gap"), "s"),
        f"{ws}.shuffle_write_mb": (med("write_star", "shuffle_mb"), "MB"),
        f"{ws}.output_mb": (med("write_star", "output_mb"), "MB"),
        f"{ws}.output_files": (med("write_star", "files"), "count"),
        f"{dash}.construct_s": (med("dashboard", "construct"), "s"),
        f"{dash}.plan_s": (med("dashboard", "plan"), "s"),
        f"{dash}.exec_s": (med("dashboard", "exec"), "s"),
        f"{dash}.jobs": (med("dashboard", "jobs"), "count"),
        f"{dash}.gap_s": (med("dashboard", "gap"), "s"),
        f"{dash}.cache_hit_ratio": (sum(hits) / len(hits) if hits else 0.0, "ratio"),
        "trace.pass_s": (statistics.median(r["passes"]), "s"),
    }


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        from superstore_data_pipeline_analytics_dashboard__spark.plans import (
            superstore_pipeline as P,
        )
        from superstore_data_pipeline_analytics_dashboard__spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        configure(work, bool(args.trace))
        make_inputs, workload = WORKLOADS[args.workload]
        with ThreadPoolExecutor(1) as pool:
            # the inputs are generated while the JVM starts
            inputs = pool.submit(make_inputs, args.seed, work)
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", warehouse_dir=str(work / "warehouse"))
            get_spark_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            client = Client(spark, P, bool(args.trace))
            r = workload(client, inputs.result(), args.seed, args.seconds, work)
            rss = jvm_rss_peak_mb(spark) if args.trace else 0.0
        finally:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        if args.trace:
            (log,) = (work / "events").iterdir()
            metrics = per_layer(client, r, log, get_spark_s, rss)
        else:
            metrics = end_to_end(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it

    for p in r["problems"]:
        print(f"WRONG: {p}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} warm passes={[round(x, 3) for x in r['warm']]}"
          f" timed passes={[round(x, 3) for x in r['passes']]}")
    for kind, dt in sorted(r.get("by_kind", {}).items()):
        print(f"# median {kind} request {dt:.3f} s")
    print(f"# wall {time.perf_counter() - T_START:.1f} s")
    print(f"# error_rate {r['failed'] / r['attempted']:.4f} ({r['failed']}/{r['attempted']})")
    if "rows_per_s" in r:
        print(f"# rows_per_s {r['rows_per_s']:.6g} rows/s ({ELT_ROWS} records / pass_s)")
    for name, (value, unit) in metrics.items():
        print(f"# {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
