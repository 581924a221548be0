"""Semantic property pins for the round-4 catalog additions — the
invariants a reader of each query's contract would expect, checked
against independent Python recomputation on the smoke tables (the
oracle gate proves Spark==DuckDB; these prove both match the INTENT)."""

from __future__ import annotations

import hashlib
import uuid
from collections import Counter

from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    catalog_queries as Q,
)
from tests.conftest import SF_SMOKE


def _tokens(text: str) -> list[str]:
    return [t for t in " ".join(text.lower().split()).split(" ") if t != ""]


def test_quota_sample_is_maximal_prefix(spark):
    """q123: per source, the kept set must be the LONGEST hash-ordered
    prefix fitting the quota — never over, and the next doc (if any)
    would overflow."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    per_src: dict[str, list] = {}
    for r in docs:
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        per_src.setdefault(r["source"], []).append(
            (h, r["doc_id"], len(_tokens(r["text"])))
        )
    want = {}
    for src, rows in per_src.items():
        total = 0
        for h, did, n in sorted(rows):
            if total + n > 800:
                break
            total += n
            want[(src, did)] = total
    got = {
        (r["source"], r["doc_id"]): r["cum_tok"]
        for r in Q.QUERIES["q123_quota_sample"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_epoch_plan_respects_cap_and_budget(spark):
    """q124: epochs ∈ (0, 4], planned ≤ min(4·available, ideal·(1+ε)),
    and uncapped sources' planned tokens reproduce ideal·available
    flooring."""
    rows = Q.QUERIES["q124_epoch_plan"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r["epochs"] <= 4.0
        assert r["planned_tokens"] <= 4 * r["n_tokens"]
        assert r["planned_tokens"] <= int(r["ideal_tokens"]) + 1
        if r["epochs"] < 4.0:
            assert abs(r["planned_tokens"] - r["ideal_tokens"]) <= 1.0


def test_boilerplate_strip_matches_python_reference(spark):
    """q121: recompute the mined top-20 5-grams and the coverage strip
    in plain Python; fingerprints must agree for every document."""
    docs = {
        r["doc_id"]: _tokens(r["text"])
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }

    def shingles(t):
        if len(t) <= 5:
            return [(0, " ".join(t))]
        return [(i, " ".join(t[i : i + 5])) for i in range(len(t) - 4)]

    n_docs: Counter = Counter()
    n_occ: Counter = Counter()
    for t in docs.values():
        grams = [s for _, s in shingles(t)]
        n_occ.update(grams)
        n_docs.update(set(grams))
    cands = [
        (-n_docs[s], -n_occ[s], s) for s in n_docs if n_docs[s] >= 2
    ]
    bp = {s for _, _, s in sorted(cands)[:20]}

    want = {}
    for did, t in docs.items():
        cov = set()
        for pos, s in shingles(t):
            if s in bp:
                cov.update(range(pos, pos + 5))
        clean = [x for i, x in enumerate(t) if i not in cov]
        want[did] = (
            len(t),
            len(clean),
            hashlib.md5(" ".join(clean).encode()).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_before"], r["n_after"], r["clean_fp"])
        for r in Q.QUERIES["q121_boilerplate_strip"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_event_anomaly_matches_python_reference(spark):
    """q129: trailing-window flag/z recomputed row-by-row in Python."""
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", F.col("ts").cast("date").alias("day"))
        .collect()
    )
    daily: Counter = Counter((r["event_type"], r["day"]) for r in ev)
    series: dict[str, list] = {}
    for (et, day), cnt in sorted(daily.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        series.setdefault(et, []).append((day, cnt))
    want = {}
    for et, rows in series.items():
        for idx, (day, x) in enumerate(rows):
            wnd = [c for _, c in rows[max(0, idx - 7) : idx]]
            n = len(wnd)
            if n < 3:
                continue
            s, q = sum(wnd), sum(c * c for c in wnd)
            dev, var_n2 = n * x - s, n * q - s * s
            want[(et, day)] = (x, n, dev * dev > 9 * var_n2)
    got = {
        (r["event_type"], r["day"]): (r["cnt"], r["n"], r["is_anomaly"])
        for r in Q.QUERIES["q129_event_anomaly"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


def test_novelty_bounds_and_old_docs_excluded(spark):
    """q125: only new-split docs appear; novelty ∈ [0, 1]."""
    rows = Q.QUERIES["q125_ngram_novelty"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 5 >= 3
        assert 0 <= r["n_novel"] <= r["n_shingles"]
        assert 0.0 <= r["novelty"] <= 1.0


def test_pair_containment_dominates_jaccard(spark):
    """q130: containment ≥ jaccard always (min ≤ union), and subset
    pairs (containment = 1) are exactly those with n_common = min
    size."""
    rows = Q.QUERIES["q130_pair_containment"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["containment"] >= r["jaccard"]
        if r["containment"] == 1.0:
            assert r["n_common"] == min(r["size_a"], r["size_b"])


def test_training_recipe_stage_invariants(spark):
    """q134: the funnel only narrows (selected ≤ kept ≤ gated), token
    selections respect quotas, split counts partition the selection,
    and quotas sum to ≤ the budget."""
    rows = Q.QUERIES["q134_training_recipe"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_selected"] <= r["n_kept"] <= r["n_gated"]
        assert r["tok_selected"] <= r["quota"]
        assert r["n_train"] + r["n_val"] + r["n_test"] == r["n_selected"]
    assert sum(r["quota"] for r in rows) <= 20_000


def test_training_recipe_reports_zero_selection_sources(spark):
    """q134 with a tiny budget: sources whose quota admits no document
    must still appear with zeroed selection columns (the left-join
    contract), and every gated source must be present."""
    full = Q.QUERIES["q134_training_recipe"](spark, SF_SMOKE).collect()
    tiny = Q.q134_training_recipe(spark, SF_SMOKE, budget=10)
    rows = tiny.collect()
    assert {r["source"] for r in rows} == {r["source"] for r in full}
    assert any(r["n_selected"] == 0 for r in rows)
    for r in rows:
        if r["n_selected"] == 0:
            assert r["tok_selected"] == 0
            assert r["n_train"] == r["n_val"] == r["n_test"] == 0
            assert r["n_kept"] > 0  # the funnel columns survive


def test_adaptive_gate_keeps_top_three_quarters(spark):
    """q137: per source, kept count is n - ceil(n/4) + 1-ish (ties can
    admit more); every kept doc clears its own source's threshold, and
    every source appears."""
    rows = Q.QUERIES["q137_adaptive_quality_gate"](spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    per_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    kept: dict = {}
    for r in rows:
        assert r["q"] >= r["thr"]
        kept[r["source"]] = kept.get(r["source"], 0) + 1
    assert set(kept) == set(per_src)
    for src, n in per_src.items():
        # nearest-rank p25 keeps ranks >= ceil(n/4): n - ceil(n/4) + 1
        # exactly, plus any ties on the threshold value below that rank
        floor_keep = n - (n + 3) // 4 + 1
        assert floor_keep <= kept[src] <= n


def test_rolling_quantile_sketch_within_rank_error(spark):
    """q138: each window's KLL p50/p95 must fall inside a generous rank
    band of the EXACT windowed distribution (KLL k=200 → ~1.65% rank
    error at 99% confidence; we allow ±10 rank percentiles)."""
    import datetime as dt

    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.col("value").cast("double").alias("v"),
        )
        .collect()
    )
    windows: dict = {}
    for r in ev:
        for off in range(7):
            key = (r["event_type"], r["day"] + dt.timedelta(days=off))
            windows.setdefault(key, []).append(r["v"])
    got = Q.QUERIES["q138_rolling_quantile_sketch"](spark, SF_SMOKE).collect()
    assert len(got) == len(windows)
    for r in got:
        vals = windows[(r["event_type"], r["window_day"])]
        # n_values is the EXACT component (KLL tracks n exactly); the
        # quantiles cross as ±0.05 rank-band booleans computed by the
        # query against the true windowed distribution (r5 partial
        # oracle) — all must hold on this corpus
        assert r["n_values"] == len(vals)
        assert r["p50_rank_ok"] and r["p95_rank_ok"], r


def test_epoch_execute_tracks_plan(spark):
    """q139: achieved tokens bracket the plan — at least the whole
    passes, at most one extra full pass; epochs respect the cap; and
    the fractional sample is a subset of the source's corpus."""
    rows = Q.QUERIES["q139_epoch_execute"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r["epochs"] <= 4.0
        assert r["full_copies"] == int(r["epochs"])
        assert r["achieved_tokens"] >= r["full_copies"] * r["avail"]
        assert r["achieved_tokens"] <= (r["full_copies"] + 1) * r["avail"]


def test_brand_skyline_matches_bruteforce_dominance(spark):
    """q149: window running-max frontier == the quadratic dominance
    definition (no pair (price<=, size>=, one strict) dominates a kept
    pair; every dropped pair is dominated by some kept pair)."""
    pairs = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .selectExpr(
            "p_brand",
            "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents",
            "CAST(p_size AS INT) AS size",
        )
        .distinct()
        .collect()
    )
    by_brand: dict = {}
    for r in pairs:
        by_brand.setdefault(r["p_brand"], []).append((r["price_cents"], r["size"]))
    want = set()
    for brand, ps in by_brand.items():
        for p, sz in ps:
            dominated = any(
                (p2 <= p and s2 >= sz and (p2 < p or s2 > sz)) for p2, s2 in ps
            )
            if not dominated:
                want.add((brand, p, sz))
    got = {
        (r["p_brand"], r["price_cents"], r["size"])
        for r in Q.QUERIES["q149_brand_skyline"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_order_islands_match_python_reference(spark):
    """q141: islands recomputed from the raw day set."""
    import datetime as dt

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .selectExpr("o_orderpriority", "CAST(o_orderdate AS DATE) AS day")
        .distinct()
        .collect()
    )
    days: dict = {}
    for r in rows:
        days.setdefault(r["o_orderpriority"], set()).add(r["day"])
    want = set()
    for pri, ds in days.items():
        for d in ds:
            if d - dt.timedelta(days=1) not in ds:  # island start
                end = d
                while end + dt.timedelta(days=1) in ds:
                    end += dt.timedelta(days=1)
                want.add((pri, d, end, (end - d).days + 1))
    got = {
        (r["o_orderpriority"], r["start_day"], r["end_day"], r["n_days"])
        for r in Q.QUERIES["q141_order_islands"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_survivorship_merge_matches_python_reference(spark):
    """q150: per-key column-wise latest-non-null merge recomputed
    naively from the version fixture's definition."""
    custs = (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .selectExpr(
            "c_custkey AS k",
            "c_name",
            "c_mktsegment",
            "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        )
        .collect()
    )
    want = {}
    for r in custs:
        k = r["k"]
        versions = [
            (1, r["c_name"], r["c_mktsegment"] if k % 3 != 0 else None, r["cents"]),
            (
                2,
                r["c_name"].upper() if k % 2 != 0 else None,
                r["c_mktsegment"] if k % 5 == 0 else None,
                r["cents"] + 100 if k % 7 != 0 else None,
            ),
        ]
        if k % 4 == 0:
            versions.append((3, None, "VIP", None))

        def last_nn(i):
            vals = [v[i] for v in versions if v[i] is not None]
            return vals[-1] if vals else None

        want[k] = (last_nn(1), last_nn(2), last_nn(3), len(versions), versions[-1][0])
    got = {
        r["cust_key"]: (
            r["name"],
            r["segment"],
            r["acct_cents"],
            r["n_versions"],
            r["last_seq"],
        )
        for r in Q.QUERIES["q150_survivorship_merge"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_interleave_order_is_proportional_permutation(spark):
    """q155: step is a permutation of 1..N; within each source steps
    follow r_in_source order; and any step-prefix holds each source in
    rough proportion to its size (virtual-time fairness)."""
    rows = Q.QUERIES["q155_interleave_order"](spark, SF_SMOKE).collect()
    n = len(rows)
    steps = sorted(r["step"] for r in rows)
    assert steps == list(range(1, n + 1))
    by_src: dict = {}
    for r in sorted(rows, key=lambda r: r["step"]):
        by_src.setdefault(r["source"], []).append(r["r_in_source"])
    sizes = {s: len(v) for s, v in by_src.items()}
    for s, rs in by_src.items():
        assert rs == sorted(rs)  # hash order preserved within source
    # fairness: in the first half of steps, each source contributes
    # half its docs ±2 (virtual-time rounding)
    half = n // 2
    seen = {s: 0 for s in by_src}
    for r in sorted(rows, key=lambda r: r["step"])[:half]:
        seen[r["source"]] += 1
    for s, c in seen.items():
        assert abs(c - sizes[s] / 2) <= 2, (s, c, sizes[s])


# ---------------------------------------------------------------- round 5b


def _cents(x: float) -> int:
    """Exact cents of a double the way both engines compute it: round
    the EXACT binary value half-up at scale 2 (Spark cast double →
    DECIMAL(18,2); Decimal(float) is that exact value)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(x).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100
    )


def test_association_rules_match_counter(spark):
    """q162: pair counts, margins, basket total and lift all reproduce
    a brute-force Counter over the distinct (order, part) grain."""
    from collections import Counter, defaultdict

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    orders = defaultdict(set)
    for r in li:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    item: Counter = Counter()
    pair: Counter = Counter()
    for parts in orders.values():
        for a in parts:
            item[a] += 1
            for b in parts:
                if a != b:
                    pair[(a, b)] += 1
    n_orders = len(orders)
    rows = Q.QUERIES["q162_association_rules"](spark, SF_SMOKE).collect()
    want = {k: v for k, v in pair.items() if v >= 2}
    got = {(r["antecedent"], r["consequent"]): r["n_both"] for r in rows}
    assert got == want
    for r in rows:
        assert r["n_ante"] == item[r["antecedent"]]
        assert r["n_cons"] == item[r["consequent"]]
        assert r["n_orders"] == n_orders
        lift = (r["n_both"] * n_orders) / (r["n_ante"] * r["n_cons"])
        assert abs(r["lift"] - lift) < 1e-12


def test_rfm_segments_partition_customers(spark):
    """q163: segments partition the customer base (counts sum to the
    distinct-customer total) and every digit is a 1..5 quintile."""
    rows = Q.QUERIES["q163_rfm_segments"](spark, SF_SMOKE).collect()
    n_cust = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        seg = r["segment"]
        assert 1 <= seg // 100 <= 5
        assert 1 <= seg // 10 % 10 <= 5
        assert 1 <= seg % 10 <= 5


def test_welch_drift_matches_python(spark):
    """q164: per-source t statistic reproduces a float recomputation
    with the same operand order over the exact integer sums."""
    import math
    from collections import defaultdict

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    halves = defaultdict(lambda: ([], []))
    for r in docs:
        halves[r["source"]][0 if r["doc_id"] % 5 < 3 else 1].append(
            r["n_chars"]
        )

    def mv(xs):
        n, s, q = float(len(xs)), float(sum(xs)), float(
            sum(x * x for x in xs)
        )
        if len(xs) < 2:
            return (s / n if xs else None), None
        return s / n, (n * q - s * s) / (n * (n - 1.0))

    for r in Q.QUERIES["q164_numeric_drift"](spark, SF_SMOKE).collect():
        old, new = halves[r["source"]]
        assert r["n_old"] == len(old) and r["n_new"] == len(new)
        m1, v1 = mv(old)
        m2, v2 = mv(new)
        if v1 is None or v2 is None:
            assert r["t_stat"] is None
            continue
        t = (m1 - m2) / math.sqrt(v1 / len(old) + v2 / len(new))
        assert abs(r["t_stat"] - t) < 1e-9


def _region_daily_cents(spark):
    import datetime

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").collect()
    r = spark.read.parquet(f"{SF_SMOKE}/region.parquet").collect()
    nat_of = {x["c_custkey"]: x["c_nationkey"] for x in c}
    reg_of = {x["n_nationkey"]: x["n_regionkey"] for x in n}
    name_of = {x["r_regionkey"]: x["r_name"] for x in r}
    daily: dict = {}
    epoch = datetime.date(1970, 1, 1)
    for row in o:
        region = name_of[reg_of[nat_of[row["o_custkey"]]]]
        day = row["o_orderdate"].date()
        daily[(region, (day - epoch).days)] = daily.get(
            (region, (day - epoch).days), 0
        ) + _cents(row["o_totalprice"])
    return daily


def test_trend_residuals_match_python(spark):
    """q165: the flagged top-3 days per region reproduce a full Python
    normal-equations fit + residual ranking (identical float ops)."""
    from collections import defaultdict

    daily = _region_daily_cents(spark)
    series = defaultdict(list)
    for (region, x), y in daily.items():
        series[region].append((x, y))
    want = {}
    for region, pts in series.items():
        n = float(len(pts))
        sx = float(sum(x for x, _ in pts))
        sy = float(sum(y for _, y in pts))
        sxy = float(sum(x * y for x, y in pts))
        sxx = float(sum(x * x for x, _ in pts))
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        icept = (sy - slope * sx) / n
        scored = [
            (x, y, float(y) - (slope * float(x) + icept)) for x, y in pts
        ]
        scored.sort(key=lambda t: (-abs(t[2]), t[0]))
        for rk, (x, y, resid) in enumerate(scored[:3], start=1):
            want[(region, x)] = (y, rk)
    got = {
        (r["region"], r["day_index"]): (r["y_cents"], r["rk"])
        for r in Q.QUERIES["q165_trend_residuals"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_backlog_matches_event_replay(spark):
    """q166: the backlog series equals a Python event replay (+1 at
    order date, -1 the day after the last shipment)."""
    import datetime
    from collections import defaultdict

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    last_ship: dict = {}
    for r in li:
        d = r["l_shipdate"].date()
        k = r["l_orderkey"]
        last_ship[k] = max(last_ship.get(k, d), d)
    opened = defaultdict(int)
    closed = defaultdict(int)
    for r in o:
        opened[r["o_orderdate"].date()] += 1
        if r["o_orderkey"] in last_ship:
            closed[
                last_ship[r["o_orderkey"]] + datetime.timedelta(days=1)
            ] += 1
    days = sorted(set(opened) | set(closed))
    want, bal = {}, 0
    for d in days:
        bal += opened[d] - closed[d]
        want[d] = (opened[d], closed[d], bal)
    got = {
        r["day"]: (r["n_opened"], r["n_closed"], r["backlog"])
        for r in Q.QUERIES["q166_order_backlog"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_gains_table_is_monotone_lorenz(spark):
    """q167: ten deciles, cum_share strictly increasing to 1.0, and the
    best-first ordering makes per-decile spend non-increasing."""
    rows = sorted(
        Q.QUERIES["q167_gains_table"](spark, SF_SMOKE).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["cum_share"] for r in rows]
    assert all(b > a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-12
    spends = [r["sum_spend"] for r in rows]
    assert all(a >= b for a, b in zip(spends, spends[1:]))


def test_label_outliers_match_python(spark):
    """q168: threshold row and strict-below count reproduce a Python
    nearest-rank over the shared cosine scores."""
    scored = Q._label_cosine_scores(spark, SF_SMOKE).collect()
    from collections import defaultdict

    by_label = defaultdict(list)
    for r in scored:
        by_label[r["label"]].append((r["__cos"], r["vec_id"]))
    want = {}
    for label, rows in by_label.items():
        rows.sort()
        k = (len(rows) + 9) // 10
        thr = rows[k - 1][0]
        below = sum(1 for cos, _ in rows if cos < thr)
        want[label] = (len(rows), float(thr), below)
    got = {
        r["label"]: (r["n_members"], r["p10_cos"], r["n_below"])
        for r in Q.QUERIES["q168_label_outliers"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_abc_classification_matches_python(spark):
    """q169: class counts and revenue totals reproduce a Python
    best-first cumulative-share sweep over exact part cents."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    q4 = Decimal("0.0001")
    spend = defaultdict(Decimal)
    for r in li:
        ep = Decimal(r["l_extendedprice"]).quantize(q4, ROUND_HALF_UP)
        disc = Decimal(r["l_discount"]).quantize(q4, ROUND_HALF_UP)
        spend[r["l_partkey"]] += ep * (1 - disc)
    cents = {
        k: int(v.quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        for k, v in spend.items()
    }
    tot = sum(cents.values())
    want = defaultdict(lambda: [0, 0])
    cum = 0
    for part, rv in sorted(cents.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += rv
        share = float(cum) / float(tot)
        cls = "A" if share <= 0.8 else ("B" if share <= 0.95 else "C")
        want[cls][0] += 1
        want[cls][1] += rv
    got = {
        r["abc_class"]: [r["n_parts"], r["class_cents"]]
        for r in Q.QUERIES["q169_abc_classification"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_seasonal_backtest_matches_python(spark):
    """q170: per-region WAPE reproduces a Python month-index replay."""
    from collections import defaultdict

    import datetime

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").collect()
    r = spark.read.parquet(f"{SF_SMOKE}/region.parquet").collect()
    nat_of = {x["c_custkey"]: x["c_nationkey"] for x in c}
    reg_of = {x["n_nationkey"]: x["n_regionkey"] for x in n}
    name_of = {x["r_regionkey"]: x["r_name"] for x in r}
    monthly = defaultdict(int)
    for row in o:
        region = name_of[reg_of[nat_of[row["o_custkey"]]]]
        d = row["o_orderdate"]
        monthly[(region, d.year * 12 + d.month)] += _cents(
            row["o_totalprice"]
        )
    agg = defaultdict(lambda: [0, 0, 0])
    for (region, midx), cents in monthly.items():
        prev = monthly.get((region, midx - 12))
        if prev is not None:
            a = agg[region]
            a[0] += 1
            a[1] += abs(cents - prev)
            a[2] += cents
    for row in Q.QUERIES["q170_seasonal_backtest"](spark, SF_SMOKE).collect():
        n_scored, err, actual = agg[row["region"]]
        assert row["n_scored"] == n_scored
        assert row["err_cents"] == err
        assert row["actual_cents"] == actual
        assert abs(row["wape"] - float(err) / float(actual)) < 1e-15
    assert len(agg) == Q.QUERIES["q170_seasonal_backtest"](
        spark, SF_SMOKE
    ).count()


def test_duplicate_orders_match_python(spark):
    """q171: flagged groups equal a Counter over the natural key."""
    from collections import Counter

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    cnt = Counter(
        (r["o_custkey"], r["o_orderdate"].date(), _cents(r["o_totalprice"]))
        for r in o
    )
    want = {k: v for k, v in cnt.items() if v > 1}
    got = {
        (r["cust_key"], r["day"], r["amount_cents"]): r["n_dups"]
        for r in Q.QUERIES["q171_duplicate_orders"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_decontaminate_consistent_with_q70(spark):
    """q172: the removal bill is exactly q70's audit thresholded at
    0.5 and rolled up per source."""
    from collections import defaultdict

    cont = {
        r["doc_id"]: r["contamination"]
        for r in Q.QUERIES["q70_contamination_check"](
            spark, SF_SMOKE
        ).collect()
    }
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    want = defaultdict(lambda: [0, 0, 0])
    half = 0.5
    for r in docs:
        if r["source"] == "src0":
            continue
        w = want[r["source"]]
        w[0] += 1
        if float(cont[r["doc_id"]]) > half:
            w[1] += 1
        else:
            w[2] += r["n_chars"]
    got = {
        r["source"]: [r["n_docs"], r["n_dropped"], r["kept_chars"]]
        for r in Q.QUERIES["q172_decontaminate"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_quality_length_corr_matches_python(spark):
    """q173: per-source Pearson r reproduces a float recomputation over
    the (hash-proven) q22 score table."""
    src_of = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    from collections import defaultdict

    pts = defaultdict(list)
    for r in Q.QUERIES["q22_text_quality"](spark, SF_SMOKE).collect():
        pts[src_of[r["doc_id"]]].append(
            (int(round(r["quality"] * 1000000)), r["n_chars"])
        )
    import math

    for r in Q.QUERIES["q173_quality_length_corr"](spark, SF_SMOKE).collect():
        xy = pts[r["source"]]
        assert r["n_docs"] == len(xy)
        n = float(len(xy))
        sx = float(sum(x for x, _ in xy))
        sy = float(sum(y for _, y in xy))
        sxy = float(sum(x * y for x, y in xy))
        sxx = float(sum(x * x for x, _ in xy))
        syy = float(sum(y * y for _, y in xy))
        corr = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        assert abs(r["corr"] - corr) < 1e-12
        assert -1.0 <= r["corr"] <= 1.0


def test_crosslang_fingerprints_match_python(spark):
    """q174: flagged fingerprints equal a hashlib recomputation."""
    from collections import defaultdict

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    groups = defaultdict(lambda: (set(), []))
    for r in docs:
        norm = " ".join(r["text"].lower().split())
        fp = hashlib.md5(norm.encode()).hexdigest()
        langs, ids = groups[fp]
        langs.add(r["lang"])
        ids.append(r["doc_id"])
    want = {
        fp: (len(ids), len(langs), min(ids))
        for fp, (langs, ids) in groups.items()
        if len(langs) > 1
    }
    got = {
        r["fingerprint"]: (r["n_docs"], r["n_langs"], r["canon_id"])
        for r in Q.QUERIES["q174_crosslang_fingerprints"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_profile_drift_matches_python(spark):
    """q175: per-column half-split census equals a Python recompute."""
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    cols = {
        "o_orderkey": lambda r: str(r["o_orderkey"]),
        "o_custkey": lambda r: str(r["o_custkey"]),
        "o_orderstatus": lambda r: r["o_orderstatus"],
        "o_orderpriority": lambda r: r["o_orderpriority"],
        "o_orderdate": lambda r: str(r["o_orderdate"].date()),
    }
    rows = Q.QUERIES["q175_profile_drift"](spark, SF_SMOKE).collect()
    assert {r["col_name"] for r in rows} == set(cols)
    for r in rows:
        get = cols[r["col_name"]]
        old = [get(x) for x in o if x["o_orderkey"] % 5 < 3]
        new = [get(x) for x in o if x["o_orderkey"] % 5 >= 3]
        assert r["n_old"] == len(old) and r["n_new"] == len(new)
        assert r["null_old"] == sum(1 for v in old if v is None)
        assert r["distinct_old"] == len({v for v in old if v is not None})
        assert r["distinct_new"] == len({v for v in new if v is not None})


def test_ab_experiment_matches_python(spark):
    """q176: arm assignment, conversions and the pooled z reproduce a
    hashlib + float recomputation."""
    import math

    import datetime

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    signup: dict = {}
    for r in ev:
        if r["event_type"] == "signup":
            uid = r["user_id"]
            signup[uid] = min(signup.get(uid, r["ts"]), r["ts"])
    conv: dict = {}
    for r in ev:
        uid = r["user_id"]
        if uid not in signup:
            continue
        hit = (
            r["event_type"] == "purchase"
            and r["ts"] <= signup[uid] + datetime.timedelta(hours=24)
        )
        conv[uid] = max(conv.get(uid, 0), 1 if hit else 0)
    arms = {0: [0, 0], 1: [0, 0]}
    for uid, c in conv.items():
        arm = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 2
        arms[arm][0] += 1
        arms[arm][1] += c
    [row] = Q.QUERIES["q176_ab_experiment"](spark, SF_SMOKE).collect()
    assert (row["n_a"], row["conv_a"]) == tuple(arms[0])
    assert (row["n_b"], row["conv_b"]) == tuple(arms[1])
    na, ca = float(arms[0][0]), float(arms[0][1])
    nb, cb = float(arms[1][0]), float(arms[1][1])
    pool = (ca + cb) / (na + nb)
    denom = math.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    if denom == 0.0:
        assert row["z_stat"] is None
    else:
        z = (ca / na - cb / nb) / denom
        assert abs(row["z_stat"] - z) < 1e-12


def test_time_weighted_value_matches_python(spark):
    """q177: per-user TWA reproduces an exact integer replay with
    centi-values and second-resolution weights."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    per = defaultdict(list)
    for r in ev:
        per[r["user_id"]].append((r["ts"], r["event_id"], r["value"]))
    want = {}
    for uid, rows in per.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        n_held = 0
        sdur_us = 0
        sdur_s = 0
        swv = 0
        for (ts, _, val), (nts, _, _) in zip(rows, rows[1:]):
            dur_us = (nts - ts) // __import__("datetime").timedelta(
                microseconds=1
            )
            v4 = Decimal(val).quantize(Decimal("0.0001"), ROUND_HALF_UP)
            vc = int((v4 * 100).quantize(Decimal("1"), ROUND_HALF_UP))
            n_held += 1
            sdur_us += dur_us
            sdur_s += dur_us // 1000000
            swv += vc * (dur_us // 1000000)
        if n_held:
            twa = (
                (float(swv) / float(sdur_s)) / 100.0 if sdur_s else None
            )
            want[uid] = (n_held, sdur_us, twa)
    got = {
        r["user_id"]: (r["n_held"], r["dur_us"], r["twa_value"])
        for r in Q.QUERIES["q177_time_weighted_value"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(got) == set(want)
    for uid, (n, d, t) in want.items():
        gn, gd, gt = got[uid]
        assert (gn, gd) == (n, d)
        if t is None:
            assert gt is None
        else:
            assert abs(gt - t) < 1e-12


def test_entity_resolution_matches_python(spark):
    """q178: blocked-Levenshtein pairs, union-find components and
    consolidated revenue all reproduce a Python replay."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    parts = spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    blocks = defaultdict(list)
    for r in parts:
        blocks[(r["p_brand"], r["p_size"])].append((r["p_partkey"], r["p_name"]))
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for members in blocks.values():
        members.sort()
        for i, (ka, na) in enumerate(members):
            for kb, nb in members[i + 1 :]:
                if lev(na, nb) <= 8:
                    nodes.update((ka, kb))
                    union(ka, kb)
    q4 = Decimal("0.0001")
    spend = defaultdict(Decimal)
    for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect():
        ep = Decimal(r["l_extendedprice"]).quantize(q4, ROUND_HALF_UP)
        disc = Decimal(r["l_discount"]).quantize(q4, ROUND_HALF_UP)
        spend[r["l_partkey"]] += ep * (1 - disc)
    want = defaultdict(lambda: [0, Decimal(0)])
    for n in nodes:
        w = want[find(n)]
        w[0] += 1
        w[1] += spend[n].quantize(Decimal("0.01"), ROUND_HALF_UP)
    got = {
        r["entity_id"]: (r["n_members"], r["entity_rev"])
        for r in Q.QUERIES["q178_entity_resolution"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for eid, (n, rev) in want.items():
        assert got[eid][0] == n
        assert abs(got[eid][1] - float(rev)) < 1e-9


def test_segment_confidence_matches_python(spark):
    """q179: mean and CI half-width reproduce the float recompute."""
    import math
    from collections import defaultdict

    seg_of = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    }
    xs = defaultdict(list)
    for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect():
        xs[seg_of[r["o_custkey"]]].append(_cents(r["o_totalprice"]))
    for r in Q.QUERIES["q179_segment_confidence"](spark, SF_SMOKE).collect():
        v = xs[r["segment"]]
        n, s, q = float(len(v)), float(sum(v)), float(sum(x * x for x in v))
        mean = s / n
        var = (n * q - s * s) / (n * (n - 1.0))
        h = 1.96 * math.sqrt(var) / math.sqrt(n)
        assert r["n_orders"] == len(v)
        assert abs(r["mean_cents"] - mean) < 1e-9
        assert abs(r["ci_lo_cents"] - (mean - h)) < 1e-9
        assert abs(r["ci_hi_cents"] - (mean + h)) < 1e-9
        assert r["ci_lo_cents"] < r["mean_cents"] < r["ci_hi_cents"]


def test_new_vs_returning_matches_python(spark):
    """q180: first-month attribution reproduces a Python replay and the
    split partitions each month's orders."""
    from collections import defaultdict

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    month_of = lambda d: (d.year, d.month)  # noqa: E731
    first: dict = {}
    for r in o:
        m = month_of(r["o_orderdate"])
        k = r["o_custkey"]
        first[k] = min(first.get(k, m), m)
    want = defaultdict(lambda: [0, 0, 0, 0])
    for r in o:
        m = month_of(r["o_orderdate"])
        w = want[m]
        c = _cents(r["o_totalprice"])
        if m == first[r["o_custkey"]]:
            w[0] += c
            w[2] += 1
        else:
            w[1] += c
            w[3] += 1
    got = {
        (r["month"].year, r["month"].month): [
            r["rev_new"],
            r["rev_returning"],
            r["n_new"],
            r["n_returning"],
        ]
        for r in Q.QUERIES["q180_new_vs_returning"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_sole_blame_supplier_matches_python(spark):
    """q181: the decorrelated rewrite reproduces a direct Python replay
    of the EXISTS/NOT-EXISTS definition."""
    from collections import defaultdict

    o = {
        r["o_orderkey"]: r["o_orderdate"].date()
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    }
    import datetime

    per_os = defaultdict(bool)
    supps = defaultdict(set)
    for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect():
        ok = r["l_orderkey"]
        if ok not in o:
            continue
        late = r["l_shipdate"].date() > o[ok] + datetime.timedelta(days=60)
        per_os[(ok, r["l_suppkey"])] |= late
        supps[ok].add(r["l_suppkey"])
    want = defaultdict(int)
    for ok, ss in supps.items():
        late_supps = [s for s in ss if per_os[(ok, s)]]
        if len(ss) > 1 and len(late_supps) == 1:
            want[late_supps[0]] += 1
    got = {
        r["supp_key"]: r["n_blame_orders"]
        for r in Q.QUERIES["q181_sole_blame_supplier"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == dict(want)


def _ntile(ranked: list, n: int) -> dict:
    """DuckDB/Spark ntile semantics: first (len mod n) buckets get one
    extra row."""
    total = len(ranked)
    base, rem = divmod(total, n)
    out, i = {}, 0
    for b in range(1, n + 1):
        size = base + (1 if b <= rem else 0)
        for key in ranked[i : i + size]:
            out[key] = b
        i += size
    return out


def test_quintile_migration_matches_python(spark):
    """q182: midpoint split, per-half quintiles and the transition
    counts reproduce a Python replay (including bucket-0 for customers
    active in only one half)."""
    from collections import defaultdict

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    days = [r["o_orderdate"].date() for r in o]
    lo, hi = min(days), max(days)
    mid_off = (hi - lo).days // 2
    import datetime

    mid = lo + datetime.timedelta(days=mid_off)
    spend = {True: defaultdict(int), False: defaultdict(int)}
    for r in o:
        h1 = r["o_orderdate"].date() <= mid
        spend[h1][r["o_custkey"]] += _cents(r["o_totalprice"])
    q_of = {}
    for h1, sp in spend.items():
        ranked = [k for k, _ in sorted(sp.items(), key=lambda kv: (kv[1], kv[0]))]
        q_of[h1] = _ntile(ranked, 5)
    want = defaultdict(int)
    for cust in set(spend[True]) | set(spend[False]):
        want[
            (q_of[True].get(cust, 0), q_of[False].get(cust, 0))
        ] += 1
    got = {
        (r["q_h1"], r["q_h2"]): r["n_customers"]
        for r in Q.QUERIES["q182_quintile_migration"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == dict(want)


def test_duplicate_linenumbers_match_python(spark):
    """q183: reused (order, linenumber) groups equal a Counter replay —
    and the synthetic data is REQUIRED to contain some (the module-doc
    tie-break warning exists because of them)."""
    from collections import Counter, defaultdict

    cnt = Counter(
        (r["l_orderkey"], r["l_linenumber"])
        for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    )
    want = defaultdict(lambda: [0, 0])
    for (ok, _), n in cnt.items():
        if n > 1:
            want[ok][0] += 1
            want[ok][1] += n
    got = {
        r["order_key"]: [r["n_dup_linenumbers"], r["n_rows_involved"]]
        for r in Q.QUERIES["q183_duplicate_linenumbers"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == dict(want)
    assert got, "synthetic lineitem should contain duplicate line numbers"


def test_weekday_seasonality_matches_python(spark):
    """q184: per-(region, weekday) index reproduces the Python replay
    over the shared daily-revenue grain; per-region day counts
    partition the region's days."""
    import datetime
    from collections import defaultdict

    daily = _region_daily_cents(spark)
    per_wd = defaultdict(lambda: [0, 0])
    per_r = defaultdict(lambda: [0, 0])
    epoch = datetime.date(1970, 1, 1)
    for (region, x), y in daily.items():
        wd = (epoch + datetime.timedelta(days=x)).weekday()
        per_wd[(region, wd)][0] += 1
        per_wd[(region, wd)][1] += y
        per_r[region][0] += 1
        per_r[region][1] += y
    rows = Q.QUERIES["q184_weekday_seasonality"](spark, SF_SMOKE).collect()
    for r in rows:
        n, rev = per_wd[(r["region"], r["weekday"])]
        n_all, rev_all = per_r[r["region"]]
        assert r["n_days"] == n
        idx = (float(rev) / float(n)) / (float(rev_all) / float(n_all))
        assert abs(r["seasonality_idx"] - idx) < 1e-12
    by_region = defaultdict(int)
    for r in rows:
        by_region[r["region"]] += r["n_days"]
    assert by_region == {k: v[0] for k, v in per_r.items()}


def test_session_stats_consistent_with_sessionizer(spark):
    """q185: day rollup equals a direct recompute over q31's session
    table (the same function it composes)."""
    from collections import defaultdict

    import datetime

    sess = Q.QUERIES["q31_sessionize_batch"](spark, SF_SMOKE).collect()
    want = defaultdict(lambda: [0, 0, 0])
    epoch = datetime.datetime(1970, 1, 1)
    for r in sess:
        # the canon boundary exports session_start as epoch-micros
        day = (
            epoch + datetime.timedelta(microseconds=r["session_start"])
        ).date()
        w = want[day]
        w[0] += 1
        w[1] += 1 if r["n_events"] == 1 else 0
        w[2] += r["n_events"]
    rows = Q.QUERIES["q185_session_stats"](spark, SF_SMOKE).collect()
    assert {r["day"] for r in rows} == set(want)
    for r in rows:
        n, b, e = want[r["day"]]
        assert (r["n_sessions"], r["n_bounces"]) == (n, b)
        assert abs(r["bounce_rate"] - b / n) < 1e-15
        assert abs(r["avg_events"] - e / n) < 1e-12


def test_supplier_hhi_matches_python(spark):
    """q186: per-brand HHI reproduces an exact integer replay; bounds
    1/n ≤ HHI ≤ 1 hold."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    brand_of = {
        r["p_partkey"]: r["p_brand"]
        for r in spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    }
    q4 = Decimal("0.0001")
    spend = defaultdict(Decimal)
    for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect():
        ep = Decimal(r["l_extendedprice"]).quantize(q4, ROUND_HALF_UP)
        disc = Decimal(r["l_discount"]).quantize(q4, ROUND_HALF_UP)
        spend[(brand_of[r["l_partkey"]], r["l_suppkey"])] += ep * (1 - disc)
    rev_d = {
        k: int(
            v.quantize(Decimal("0.01"), ROUND_HALF_UP).quantize(
                Decimal("1"), ROUND_HALF_UP
            )
        )
        for k, v in spend.items()
    }
    agg = defaultdict(lambda: [0, 0, 0])
    for (brand, _), d in rev_d.items():
        a = agg[brand]
        a[0] += 1
        a[1] += d
        a[2] += d * d
    for r in Q.QUERIES["q186_supplier_hhi"](spark, SF_SMOKE).collect():
        n, tot, sq = agg[r["brand"]]
        assert r["n_suppliers"] == n
        assert r["total_dollars"] == tot
        hhi = float(sq) / (float(tot) * float(tot))
        assert abs(r["hhi"] - hhi) < 1e-15
        assert 1.0 / n - 1e-12 <= r["hhi"] <= 1.0


def test_revenue_gini_matches_python(spark):
    """q187: the sharded-rank Gini equals a naive sorted replay and
    lands in [0, 1)."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    cust_of = {
        r["o_orderkey"]: r["o_custkey"]
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    }
    q4 = Decimal("0.0001")
    spend = defaultdict(Decimal)
    for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect():
        if r["l_orderkey"] not in cust_of:
            continue
        ep = Decimal(r["l_extendedprice"]).quantize(q4, ROUND_HALF_UP)
        disc = Decimal(r["l_discount"]).quantize(q4, ROUND_HALF_UP)
        spend[cust_of[r["l_orderkey"]]] += ep * (1 - disc)
    xs = sorted(
        (
            int(
                v.quantize(Decimal("0.01"), ROUND_HALF_UP).quantize(
                    Decimal("1"), ROUND_HALF_UP
                )
            ),
            k,
        )
        for k, v in spend.items()
    )
    n = len(xs)
    sx = sum(x for x, _ in xs)
    srx = sum(i * x for i, (x, _) in enumerate(xs, start=1))
    gini = (2.0 * srx - (n + 1.0) * sx) / (n * float(sx))
    [row] = Q.QUERIES["q187_revenue_gini"](spark, SF_SMOKE).collect()
    assert row["n_customers"] == n
    assert row["total_dollars"] == sx
    assert abs(row["gini"] - gini) < 1e-12
    assert 0.0 <= row["gini"] < 1.0


def test_dedup_threshold_sweep_consistent_with_pairs(spark):
    """q188: per-threshold pair/doc counts equal a direct recompute
    over q20's pair table, and both curves are non-increasing in the
    threshold."""
    from collections import defaultdict

    pairs = Q.QUERIES["q20_ngram_jaccard_pairs"](spark, SF_SMOKE).collect()
    want = defaultdict(lambda: [0, set()])
    for t in range(2, 10):
        for p in pairs:
            if float(p["jaccard"]) * 10 >= t:
                want[t][0] += 1
                want[t][1].update((p["doc_a"], p["doc_b"]))
    rows = Q.QUERIES["q188_dedup_threshold_sweep"](spark, SF_SMOKE).collect()
    got = {r["thr_tenths"]: (r["n_pairs"], r["n_docs"]) for r in rows}
    assert got == {t: (n, len(d)) for t, (n, d) in want.items() if n}
    seq = [got[t] for t in sorted(got)]
    assert all(a[0] >= b[0] and a[1] >= b[1] for a, b in zip(seq, seq[1:]))


def test_pps_sample_covers_every_step_multiple(spark):
    """q189: the selected set reproduces a Python hash-order replay;
    the covered step multiples partition 1..total//T exactly once; any
    doc with n_tok ≥ T is selected."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    T_STEP = 2000
    rows = sorted(
        (hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"],
         len(_tokens(r["text"])))
        for r in docs
    )
    want = {}
    cum = 0
    covered = []
    for _, did, n in rows:
        lo, cum = cum, cum + n
        if cum // T_STEP > lo // T_STEP:
            want[did] = (n, cum, cum // T_STEP)
            covered.extend(range(lo // T_STEP + 1, cum // T_STEP + 1))
    got = {
        r["doc_id"]: (r["n_tok"], r["cum_tok"], r["k"])
        for r in Q.QUERIES["q189_pps_systematic_sample"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want
    assert covered == list(range(1, cum // T_STEP + 1))
    big = [did for _, did, n in rows if n >= T_STEP]
    assert all(did in got for did in big)


def test_event_retention_matches_python(spark):
    """q190: day-N flags reproduce a Python replay; cohort sizes
    partition the user base."""
    import datetime
    from collections import defaultdict

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    activity = defaultdict(set)
    for r in ev:
        activity[r["user_id"]].add(r["ts"].date())
    want = defaultdict(lambda: [0, 0, 0, 0])
    for uid, days in activity.items():
        d0 = min(days)
        w = want[d0]
        w[0] += 1
        for i, k in enumerate((1, 7, 14), start=1):
            if d0 + datetime.timedelta(days=k) in days:
                w[i] += 1
    got = {
        r["cohort_day"]: [r["n_users"], r["ret_1"], r["ret_7"], r["ret_14"]]
        for r in Q.QUERIES["q190_event_retention"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)
    assert sum(v[0] for v in want.values()) == len(activity)


def test_funnel_summary_consistent_with_funnel(spark):
    """q191: the 3-row summary equals a recount over q78's stages and
    the funnel only narrows."""
    stages = [
        r["stage"]
        for r in Q.QUERIES["q78_event_funnel"](spark, SF_SMOKE).collect()
    ]
    n1 = len(stages)
    n2 = sum(1 for s in stages if s >= 2)
    n3 = sum(1 for s in stages if s >= 3)
    rows = {
        r["stage"]: r
        for r in Q.QUERIES["q191_funnel_summary"](spark, SF_SMOKE).collect()
    }
    assert [rows[s]["n_users"] for s in (1, 2, 3)] == [n1, n2, n3]
    assert n1 >= n2 >= n3
    assert abs(rows[3]["conv_overall"] - n3 / n1) < 1e-15
    assert abs(rows[3]["conv_from_prev"] - (n3 / n2 if n2 else 0)) < 1e-15


def test_dead_stock_matches_python(spark):
    """q192: never-ordered parts per brand equal a set-difference
    replay."""
    from collections import defaultdict

    parts = spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    ordered = {
        r["l_partkey"]
        for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    }
    want = defaultdict(lambda: [0, 0])
    for r in parts:
        w = want[r["p_brand"]]
        w[0] += 1
        if r["p_partkey"] not in ordered:
            w[1] += 1
    got = {
        r["brand"]: [r["n_parts"], r["n_dead"]]
        for r in Q.QUERIES["q192_dead_stock"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_token_weighted_median_matches_python(spark):
    """q193: both medians reproduce a sorted replay; the weighted
    median is the value where cumulative token mass crosses half."""
    from collections import defaultdict

    src_of = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    per = defaultdict(list)
    for r in Q.QUERIES["q22_text_quality"](spark, SF_SMOKE).collect():
        per[src_of[r["doc_id"]]].append(
            (int(round(r["quality"] * 1000000)), r["doc_id"], r["n_tokens"])
        )
    want = {}
    for src, rows in per.items():
        rows.sort()
        W = sum(n for _, _, n in rows)
        N = len(rows)
        cw = cn = 0
        tok_med = doc_med = None
        for qm, _, n in rows:
            cw += n
            cn += 1
            if doc_med is None and cn >= (N + 1) // 2:
                doc_med = qm
            if tok_med is None and cw >= (W + 1) // 2:
                tok_med = qm
        want[src] = (N, W, doc_med, tok_med)
    got = {
        r["source"]: (
            r["n_docs"],
            r["total_tokens"],
            r["doc_median_qm"],
            r["token_median_qm"],
        )
        for r in Q.QUERIES["q193_token_weighted_median"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_embedding_drift_matches_python(spark):
    """q194: the exact-integer centroid drift reproduces a Python
    replay over the shared quantized grid."""
    import math
    from collections import defaultdict

    quant = Q._quantized_embeddings(spark, SF_SMOKE).collect()
    sums = defaultdict(lambda: [0, 0])  # (label, half, dim) -> [cv, n]
    for r in quant:
        half = 0 if r["vec_id"] % 5 < 3 else 1
        for dim, qv in enumerate(r["q"]):
            s = sums[(r["label"], half, dim)]
            s[0] += qv
            s[1] += 1
    labels = {lbl for lbl, _, _ in sums}
    want = {}
    for lbl in labels:
        dims = {d for l2, _, d in sums if l2 == lbl}
        ss = 0
        n_o = n_n = 0
        ok = True
        for d in sorted(dims):
            if (lbl, 0, d) not in sums or (lbl, 1, d) not in sums:
                ok = False
                break
            cv_o, n_o = sums[(lbl, 0, d)]
            cv_n, n_n = sums[(lbl, 1, d)]
            m_o = ((cv_o + 127 * n_o) * 100) // n_o
            m_n = ((cv_n + 127 * n_n) * 100) // n_n
            ss += (m_o - m_n) ** 2
        if ok:
            want[lbl] = (n_o, n_n, math.sqrt(float(ss)) / 100.0)
    got = {
        r["label"]: (r["n_old"], r["n_new"], r["centroid_drift"])
        for r in Q.QUERIES["q194_embedding_drift"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for lbl, (no, nn, drift) in want.items():
        assert got[lbl][0] == no and got[lbl][1] == nn
        assert abs(got[lbl][2] - drift) < 1e-12


def test_benford_audit_matches_python(spark):
    """q195: digit counts, fractions and chi-square terms reproduce a
    Python replay; fractions sum to 1."""
    import math
    from collections import Counter

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    digits = Counter(str(_cents(r["o_totalprice"]))[0] for r in o)
    digits = {int(d): n for d, n in digits.items() if int(d) >= 1}
    tot = sum(digits.values())
    rows = {
        r["digit"]: r
        for r in Q.QUERIES["q195_benford_audit"](spark, SF_SMOKE).collect()
    }
    assert {d: r["n_orders"] for d, r in rows.items()} == digits
    assert abs(sum(r["frac"] for r in rows.values()) - 1.0) < 1e-12
    for d, r in rows.items():
        b = math.log10(1.0 + 1.0 / d)
        assert abs(r["benford_frac"] - b) < 1e-15
        expect = tot * b
        assert abs(r["chi2_term"] - (digits[d] - expect) ** 2 / expect) < 1e-9


def test_revenue_anomaly_mad_matches_python(spark):
    """q196: flagged days reproduce a trailing-window median/MAD
    replay with exact integers."""
    from collections import defaultdict

    daily = _region_daily_cents(spark)
    series = defaultdict(list)
    for (region, x), y in daily.items():
        series[region].append((x, y))
    want = {}
    for region, pts in series.items():
        pts.sort()
        for i, (x, y) in enumerate(pts):
            w = sorted(v for _, v in pts[max(0, i - 7) : i])
            if len(w) < 3:
                continue
            k = (len(w) + 1) // 2
            med = w[k - 1]
            mad = sorted(abs(v - med) for v in w)[k - 1]
            if abs(y - med) > 3 * mad:
                want[(region, x)] = (y, med, mad)
    got = {
        (r["region"], r["day_index"]): (
            r["y_cents"],
            r["med_cents"],
            r["mad_cents"],
        )
        for r in Q.QUERIES["q196_revenue_anomaly_mad"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_keyword_search_matches_python(spark):
    """q197: BM25-lite top-10 reproduces a Python replay with the same
    fixed double expression order."""
    docs = {
        r["doc_id"]: _tokens(r["text"])
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    n = float(len(docs))
    sum_dl = float(sum(len(t) for t in docs.values()))
    avgdl = sum_dl / n
    df1 = float(sum(1 for t in docs.values() if "data" in t))
    df2 = float(sum(1 for t in docs.values() if "stream" in t))

    def part(tf, df, dl):
        idf = (n - df + 0.5) / (df + 0.5)
        return idf * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))

    scored = []
    for did, t in docs.items():
        tf1, tf2 = float(t.count("data")), float(t.count("stream"))
        if tf1 or tf2:
            scored.append(
                (-(part(tf1, df1, len(t)) + part(tf2, df2, len(t))), did)
            )
    scored.sort()
    want = {did: (i + 1, -s) for i, (s, did) in enumerate(scored[:10])}
    got = {
        r["doc_id"]: (r["rnk"], r["score"])
        for r in Q.QUERIES["q197_keyword_search"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for did, (rnk, score) in want.items():
        assert got[did][0] == rnk
        assert abs(got[did][1] - score) < 1e-12


def test_bucket_skew_audit_matches_python(spark):
    """q198: histogram stats reproduce a hashlib replay."""
    from collections import Counter

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    hist = Counter(
        int(hashlib.md5(str(r["l_orderkey"]).encode()).hexdigest()[:15], 16)
        % 64
        for r in li
    )
    [row] = Q.QUERIES["q198_bucket_skew_audit"](spark, SF_SMOKE).collect()
    assert row["n_buckets_used"] == len(hist)
    assert row["min_rows"] == min(hist.values())
    assert row["max_rows"] == max(hist.values())
    avg = sum(hist.values()) / len(hist)
    assert abs(row["avg_rows"] - avg) < 1e-9
    assert row["skew_factor"] >= 1.0


def test_reconciliation_audit_reconciles(spark):
    """q199: all three total paths agree (exact decimal sums) and the
    rounded total matches a Decimal replay of the direct path."""
    from decimal import ROUND_HALF_UP, Decimal

    [row] = Q.QUERIES["q199_reconciliation_audit"](spark, SF_SMOKE).collect()
    assert row["brand_path_ok"] and row["month_path_ok"] and row["reconciled"]
    q4 = Decimal("0.0001")
    tot = Decimal(0)
    for r in spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect():
        ep = Decimal(r["l_extendedprice"]).quantize(q4, ROUND_HALF_UP)
        disc = Decimal(r["l_discount"]).quantize(q4, ROUND_HALF_UP)
        tot += ep * (1 - disc)
    want = float(tot.quantize(Decimal("0.01"), ROUND_HALF_UP))
    assert abs(row["total_revenue"] - want) < 1e-6


def test_release_readiness_consistent_with_components(spark):
    """q200: every metric equals a recompute over the component query
    it composes, and the booleans follow the configured thresholds."""
    [row] = Q.QUERIES["q200_release_readiness"](spark, SF_SMOKE).collect()
    dup_max = max(
        float(r["dup_rate"])
        for r in Q.QUERIES["q109_corpus_datacard"](spark, SF_SMOKE).collect()
    )
    cont = Q.QUERIES["q70_contamination_check"](spark, SF_SMOKE).collect()
    contam_frac = sum(
        1 for r in cont if float(r["contamination"]) > 0.5
    ) / len(cont)
    mism = Q.QUERIES["q153_lang_mismatch_audit"](spark, SF_SMOKE).collect()
    rate = sum(r["n_mismatch"] for r in mism) / sum(r["n_docs"] for r in mism)
    assert abs(row["dup_rate_max"] - dup_max) < 1e-12
    assert abs(row["contam_frac"] - contam_frac) < 1e-12
    assert abs(row["mismatch_rate"] - rate) < 1e-12
    assert row["dup_ok"] == (dup_max <= 0.1)
    assert row["contam_ok"] == (contam_frac <= 0.05)
    assert row["lang_ok"] == (rate <= 0.8)
    assert row["release_ok"] == (
        row["dup_ok"] and row["contam_ok"] and row["lang_ok"]
    )


def test_double_billing_exposure_matches_python(spark):
    """q201: extra-row counts and exposure reproduce a keep-first
    replay with the module tie-break order; orders flagged here are
    exactly q183's."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    q4 = Decimal("0.0001")
    groups = defaultdict(list)
    for r in li:
        groups[(r["l_orderkey"], r["l_linenumber"])].append(r)
    want = defaultdict(lambda: [0, Decimal(0)])
    for (ok, _), rows in groups.items():
        rows.sort(
            key=lambda r: (
                r["l_orderkey"],
                r["l_linenumber"],
                r["l_partkey"],
                r["l_suppkey"],
                r["l_extendedprice"],
                r["l_quantity"],
            )
        )
        for r in rows[1:]:
            ep = Decimal(r["l_extendedprice"]).quantize(q4, ROUND_HALF_UP)
            disc = Decimal(r["l_discount"]).quantize(q4, ROUND_HALF_UP)
            w = want[ok]
            w[0] += 1
            w[1] += ep * (1 - disc)
    got = {
        r["order_key"]: (r["n_extra_rows"], r["exposure"])
        for r in Q.QUERIES["q201_double_billing_exposure"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(got) == set(want)
    for ok, (n, rev) in want.items():
        assert got[ok][0] == n
        rounded = float(rev.quantize(Decimal("0.01"), ROUND_HALF_UP))
        assert abs(got[ok][1] - rounded) < 1e-9
    q183 = {
        r["order_key"]
        for r in Q.QUERIES["q183_duplicate_linenumbers"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(got) == q183


def test_ensemble_neardup_is_tier_intersection(spark):
    """q202: the ensemble is exactly the pair-key intersection of the
    two exact tiers, carrying each tier's score."""
    text = {
        (r["doc_a"], r["doc_b"]): float(r["jaccard"])
        for r in Q.QUERIES["q20_ngram_jaccard_pairs"](
            spark, SF_SMOKE
        ).collect()
    }
    emb = {
        (r["id_a"], r["id_b"]): float(r["cos_sim"])
        for r in Q.QUERIES["q33_embedding_neardup"](spark, SF_SMOKE).collect()
    }
    want = {
        k: (text[k], emb[k]) for k in set(text) & set(emb)
    }
    got = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["cos_sim"])
        for r in Q.QUERIES["q202_ensemble_neardup"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k, (j, c) in want.items():
        assert abs(got[k][0] - j) < 1e-12 and abs(got[k][1] - c) < 1e-12


def test_contingency_residuals_match_python(spark):
    """q203: quartile cuts, cell counts and standardized residuals
    reproduce a Python replay; residuals weighted by expected sum to
    ~0 per row margin."""
    import math
    from collections import Counter, defaultdict

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    lens = sorted(r["n_chars"] for r in docs)
    n = len(lens)
    cuts = [lens[(n * k + 3) // 4 - 1] for k in (1, 2, 3)]

    def quart(x):
        for i, c in enumerate(cuts, start=1):
            if x <= c:
                return i
        return 4

    cells = Counter((r["source"], quart(r["n_chars"])) for r in docs)
    rows = Counter(r["source"] for r in docs)
    cols = Counter(quart(r["n_chars"]) for r in docs)
    got = {
        (r["source"], r["quartile"]): r
        for r in Q.QUERIES["q203_contingency_residuals"](
            spark, SF_SMOKE
        ).collect()
    }
    assert {k: r["observed"] for k, r in got.items()} == dict(cells)
    for (src, q), r in got.items():
        e = rows[src] * cols[q] / n
        assert abs(r["expected"] - e) < 1e-9
        resid = (cells[(src, q)] - e) / math.sqrt(e)
        assert abs(r["std_resid"] - resid) < 1e-9
        assert r["flagged"] == (abs(resid) > 2.0)
    per_src = defaultdict(float)
    for (src, q), r in got.items():
        per_src[src] += r["std_resid"] * math.sqrt(r["expected"])
    for v in per_src.values():
        assert abs(v) < 1e-6  # Σ(o−e) per row margin is 0


def test_knn_label_accuracy_matches_numpy(spark):
    """q206: 5-NN majority vote on the 10% holdout recomputed with
    numpy full-precision cosines; per-label accuracy must agree
    exactly."""
    import numpy as np
    from collections import Counter

    rows = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = {r["vec_id"]: r["label"] for r in rows}
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    n_eval = Counter()
    n_correct = Counter()
    for i, vid in enumerate(ids):
        if vid % 10 != 0:
            continue
        order = sorted(
            ((-sims[i, j], ids[j]) for j in range(len(ids)) if j != i)
        )[:5]
        votes = Counter(labels[nid] for _, nid in order)
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        n_eval[labels[vid]] += 1
        n_correct[labels[vid]] += int(pred == labels[vid])
    got = {
        r["label"]: r
        for r in Q.QUERIES["q206_knn_label_accuracy"](spark, SF_SMOKE).collect()
    }
    assert {k: r["n_eval"] for k, r in got.items()} == dict(n_eval)
    assert {k: r["n_correct"] for k, r in got.items()} == {
        k: n_correct[k] for k in n_eval
    }
    for k, r in got.items():
        assert abs(r["accuracy"] - n_correct[k] / n_eval[k]) < 1e-12


def test_cusum_changepoint_matches_decimal_replay(spark):
    """q208: the centered CUSUM statistic recomputed with exact
    Decimal arithmetic; the peak day is the argmax of |C_t| and the
    reported cusum is C_t / N."""
    from decimal import Decimal

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    daily = {}
    for r in li:
        d = r["l_shipdate"].date()
        rev = Decimal(str(r["l_extendedprice"])).quantize(Decimal("0.0001")) * (
            1 - Decimal(str(r["l_discount"])).quantize(Decimal("0.0001"))
        )
        daily[d] = daily.get(d, Decimal(0)) + rev
    days = sorted(daily)
    rev2 = {
        d: daily[d].quantize(Decimal("0.01"), rounding="ROUND_HALF_UP")
        for d in days
    }
    n = len(days)
    s_n = sum(rev2.values())
    want_c = {}
    prefix = Decimal(0)
    for t, d in enumerate(days, start=1):
        prefix += rev2[d]
        want_c[d] = prefix * n - t * s_n
    peak = max(abs(c) for c in want_c.values())
    got = {
        r["ship_day"]: r
        for r in Q.QUERIES["q208_cusum_changepoint"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(days)
    for d in days:
        assert got[d]["day_rev"] == float(rev2[d])
        assert abs(got[d]["cusum"] - float(want_c[d]) / n) < 1e-6
        assert got[d]["is_peak"] == (abs(want_c[d]) == peak)


def test_session_concurrency_matches_sweep_replay(spark):
    """q207: per-day max open sessions recomputed with a plain Python
    interval sweep over q31's sessions (starts before ends at ties)."""
    sess = Q.q31_sessionize_batch(spark, SF_SMOKE).collect()
    pts = []
    for r in sess:
        pts.append((r["session_start"], -1, r["user_id"], r["session_no"], +1))
        pts.append((r["session_end"], +1, r["user_id"], r["session_no"], -1))
    # sort key: ts asc, delta desc (encoded as -delta asc), then ids
    pts.sort(key=lambda p: (p[0], p[1], p[2], p[3]))
    conc = 0
    want = {}
    for ts, _, _, _, delta in pts:
        conc += delta
        d = ts.date()
        st, en, mx = want.get(d, (0, 0, -(10 ** 9)))
        want[d] = (
            st + (delta == 1),
            en + (delta == -1),
            max(mx, conc),
        )
    got = {
        r["day"]: (r["n_started"], r["n_ended"], r["max_concurrent"])
        for r in Q.QUERIES["q207_session_concurrency"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_frequent_triples_match_bruteforce(spark):
    """q211: Apriori-pruned triple supports equal the unpruned
    brute-force count (pruning must never lose a frequent triple)."""
    from collections import Counter, defaultdict
    from itertools import combinations

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in rows:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    tri = Counter()
    for items in baskets.values():
        for c in combinations(sorted(items), 3):
            tri[c] += 1
    n_orders = len(baskets)
    want = {c: n for c, n in tri.items() if n >= 2}
    got = {
        (r["item_a"], r["item_b"], r["item_c"]): r
        for r in Q.QUERIES["q211_frequent_triples"](spark, SF_SMOKE).collect()
    }
    assert {k: r["support"] for k, r in got.items()} == want
    for k, r in got.items():
        assert abs(r["support_frac"] - want[k] / n_orders) < 1e-12


def test_quantile_normalize_matches_python(spark):
    """q210: the source→global rank mapping recomputed in plain Python
    (nearest-rank on sorted lists); monotone per source."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("source", "n_chars")
        .collect()
    )
    all_sorted = sorted(r["n_chars"] for r in docs)
    n_tot = len(all_sorted)
    per_src = {}
    for r in docs:
        per_src.setdefault(r["source"], []).append(r["n_chars"])
    want = {}
    for src, vals in per_src.items():
        vals.sort()
        n_s = len(vals)
        seen = {}
        for idx, v in enumerate(vals, start=1):
            seen[v] = idx  # r_hi = last rank of this distinct value
        for v, r_hi in seen.items():
            g = (r_hi * n_tot + n_s - 1) // n_s
            want[(src, v)] = (g, all_sorted[g - 1])
    got = {
        (r["source"], r["n_chars"]): (r["g"], r["norm_chars"])
        for r in Q.QUERIES["q210_quantile_normalize"](spark, SF_SMOKE).collect()
    }
    assert got == want
    for src, vals in per_src.items():
        ordered = [got[(src, v)][1] for v in sorted(set(vals))]
        assert ordered == sorted(ordered)  # monotone mapping


def test_unknown_member_repair_reconciles(spark):
    """q213: phase totals agree (repair moves rows between segments,
    never creates or loses them), orphans leave UNKNOWN after repair."""
    rows = Q.QUERIES["q213_unknown_member_repair"](spark, SF_SMOKE).collect()
    by_phase = {}
    for r in rows:
        ph = by_phase.setdefault(r["phase"], {"n": 0, "rev": 0.0, "segs": {}})
        ph["n"] += r["n_orders"]
        ph["rev"] += r["revenue"]
        ph["segs"][r["segment"]] = r["n_orders"]
    assert by_phase["initial"]["n"] == by_phase["repaired"]["n"]
    assert abs(by_phase["initial"]["rev"] - by_phase["repaired"]["rev"]) < 1e-6
    assert by_phase["initial"]["segs"].get("UNKNOWN", 0) > 0
    assert "UNKNOWN" not in by_phase["repaired"]["segs"]


def test_stratified_kfold_balance(spark):
    """q217: fold sizes within each label differ by ≤1, every
    (fold,label) cell is present, totals per label match the table."""
    from collections import Counter

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    label_n = Counter(r["label"] for r in emb)
    rows = Q.QUERIES["q217_stratified_kfold"](spark, SF_SMOKE).collect()
    per_label = {}
    for r in rows:
        assert r["balanced"] is True
        per_label.setdefault(r["label"], []).append(r["n"])
    for lbl, ns in per_label.items():
        assert sum(ns) == label_n[lbl]
        assert max(ns) - min(ns) <= 1
        assert len(ns) == min(5, label_n[lbl])


def test_rebalance_plan_caps_every_shard(spark):
    """q215: replaying the ceiling algebra in Python — every heavy key
    is split so its max shard load fits the cap, and no light key
    appears."""
    from collections import Counter

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_partkey")
        .collect()
    )
    loads = Counter(r["l_partkey"] for r in rows)
    total = sum(loads.values())
    cap = (total + 999) // 1000
    want = {}
    for k, load in loads.items():
        if load > cap:
            sfct = (load + cap - 1) // cap
            want[k] = (load, sfct, (load + sfct - 1) // sfct)
    got = {
        r["part_key"]: (r["load"], r["split_factor"], r["max_shard_load"])
        for r in Q.QUERIES["q215_rebalance_plan"](spark, SF_SMOKE).collect()
    }
    assert got == want
    for r in Q.QUERIES["q215_rebalance_plan"](spark, SF_SMOKE).collect():
        assert r["ok"] is True
        assert r["max_shard_load"] <= cap


def test_equidepth_histogram_depths_and_coverage(spark):
    """q218: buckets tile the cents domain in order, depths sum to the
    order count, and each depth is within max-multiplicity of N/10."""
    from collections import Counter
    from decimal import Decimal

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    cents = Counter(
        int(
            (Decimal(str(r["o_totalprice"])).quantize(Decimal("0.01"),
             rounding="ROUND_HALF_EVEN") * 100)
        )
        for r in o
    )
    n = sum(cents.values())
    max_mult = max(cents.values())
    rows = sorted(
        Q.QUERIES["q218_equidepth_histogram"](spark, SF_SMOKE).collect(),
        key=lambda r: r["bucket"],
    )
    assert sum(r["depth"] for r in rows) == n
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi_cents"] < cur["lo_cents"]
    for r in rows:
        assert r["depth"] <= n // 10 + max_mult + 1


def test_user_lifecycle_states_sum_and_flow(spark):
    """q219: per-week state counts partition each user-week exactly
    once; new-user total equals the distinct user count; churned in
    week w never exceeds active in w−1."""
    from collections import defaultdict

    rows = Q.QUERIES["q219_user_lifecycle"](spark, SF_SMOKE).collect()
    by_week = defaultdict(dict)
    for r in rows:
        by_week[r["week"]][r["state"]] = r["n_users"]
    n_users = sum(w.get("new", 0) for w in by_week.values())
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert n_users == ev
    weeks = sorted(by_week)
    for prev, cur in zip(weeks, weeks[1:]):
        active_prev = sum(
            by_week[prev].get(s, 0) for s in ("new", "retained", "resurrected")
        )
        assert by_week[cur].get("churned", 0) <= active_prev


def test_dedup_cost_model_matches_counter_replay(spark):
    """q222: the df histogram costs recomputed with a Python Counter
    over the same 3-gram shingle sets; the max_df-filtered candidate
    count never exceeds the unfiltered one."""
    from collections import Counter

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()

    def tokens(text):
        return [t for t in " ".join(text.lower().split()).split(" ") if t]

    dfc = Counter()
    n_postings = 0
    for r in docs:
        t = tokens(r["text"])
        if len(t) <= 2:
            grams = {" ".join(t)}
        else:
            grams = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        dfc.update(grams)
        n_postings += len(grams)
    row = Q.QUERIES["q222_dedup_cost_model"](spark, SF_SMOKE).collect()[0]
    assert row["n_docs"] == len(docs)
    assert row["n_shingles"] == len(dfc)
    assert row["n_postings"] == n_postings
    assert row["max_df"] == max(dfc.values())
    exact = sum(d * (d - 1) // 2 for d in dfc.values())
    filt = sum(d * (d - 1) // 2 for d in dfc.values() if d <= 32)
    assert row["exact_candidates"] == exact
    assert row["candidates_maxdf32"] == filt
    assert filt <= exact
    assert row["lsh_band_rows"] == 16 * len(docs)


def test_discount_elasticity_matches_numpy(spark):
    """q225: per-brand OLS slope recomputed with numpy.polyfit-style
    closed form at full float precision."""
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_partkey", "l_discount", "l_quantity")
        .collect()
    )
    parts = {
        r["p_partkey"]: r["p_brand"]
        for r in spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    }
    from collections import defaultdict

    pts = defaultdict(list)
    for r in rows:
        pts[parts[r["l_partkey"]]].append(
            (round(r["l_discount"], 4), round(r["l_quantity"], 2))
        )
    got = {
        r["brand"]: r
        for r in Q.QUERIES["q225_discount_elasticity"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(pts)
    for b, xy in pts.items():
        n = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxy = sum(x * y for x, y in xy)
        sxx = sum(x * x for x, _ in xy)
        want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got[b]["n_rows"] == n
        assert abs(got[b]["slope"] - want) < 1e-6
        assert got[b]["elastic"] == (got[b]["slope"] < 0)


def test_cohort_ltv_cumulates_and_reconciles(spark):
    """q226: cum_revenue telescopes the per-age revenue; the grand
    total over all cells equals total order revenue; cohort sizes sum
    to the customer count with orders."""
    rows = Q.QUERIES["q226_cohort_ltv"](spark, SF_SMOKE).collect()
    from collections import defaultdict

    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r["cohort_m"]].append(r)
    for cells in by_cohort.values():
        cells.sort(key=lambda r: r["age"])
        run = 0.0
        for r in cells:
            run = round(run + r["revenue"], 2)
            assert abs(r["cum_revenue"] - run) < 1e-6
            assert abs(r["ltv_per_user"] - r["cum_revenue"] / r["n_users"]) < 1e-9
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    total = round(sum(round(r["o_totalprice"], 4) for r in o.collect()), 2)
    got_total = round(sum(r["revenue"] for r in rows), 2)
    assert abs(got_total - total) < 0.05
    n_cust = o.select("o_custkey").distinct().count()
    assert sum({r["cohort_m"]: r["n_users"] for r in rows}[c] for c in
               {r["cohort_m"] for r in rows}) == n_cust


def test_gate_ablation_matches_python_replay(spark):
    """q234: fail/fail-only counts recomputed from the three component
    query outputs; fail-only ≤ fail per gate and pass-all + any-fail
    partitions the corpus."""
    q22 = {r["doc_id"]: r for r in Q.QUERIES["q22_text_quality"](spark, SF_SMOKE).collect()}
    q71 = {r["doc_id"]: r for r in Q.QUERIES["q71_doc_repetition"](spark, SF_SMOKE).collect()}
    q21 = {r["doc_id"]: r for r in Q.QUERIES["q21_lang_id"](spark, SF_SMOKE).collect()}
    fails = {}
    for d in q22:
        fails[d] = {
            "length": q22[d]["n_tokens"] < 5,
            "quality": q22[d]["quality"] < 0.5,
            "repetition": q71[d]["dup_tri_frac"] > 0.2,
            "lang": q21[d]["lang_pred"] != q21[d]["lang_declared"],
        }
    rows = {r["gate"]: r for r in Q.QUERIES["q234_gate_ablation"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"length", "quality", "repetition", "lang"}
    n_pass_all = sum(1 for f in fails.values() if not any(f.values()))
    for gate, r in rows.items():
        want_fail = sum(1 for f in fails.values() if f[gate])
        want_only = sum(
            1 for f in fails.values() if f[gate] and sum(f.values()) == 1
        )
        assert r["n_fail"] == want_fail, gate
        assert r["n_fail_only"] == want_only, gate
        assert r["n_fail_only"] <= r["n_fail"]
        assert r["n_docs"] == len(fails)
        assert r["n_pass_all"] == n_pass_all


def test_reorder_survival_matches_python(spark):
    """q236: the life-table survival estimate recomputed in Python
    with explicit censoring; survival is monotone non-increasing in d."""
    from collections import defaultdict

    o = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .collect()
    )
    per = defaultdict(list)
    for r in o:
        per[r["o_custkey"]].append((r["o_orderdate"], r["o_orderkey"]))
    max_date = max(r["o_orderdate"] for r in o).date()
    gaps, cens = [], []
    for rows in per.values():
        rows.sort()
        for a, b in zip(rows, rows[1:]):
            gaps.append((b[0].date() - a[0].date()).days)
        cens.append((max_date - rows[-1][0].date()).days)
    got = {
        r["d"]: r
        for r in Q.QUERIES["q236_reorder_survival"](spark, SF_SMOKE).collect()
    }
    assert set(got) == {7, 30, 60, 90}
    prev = 1.1
    for d in (7, 30, 60, 90):
        comp_gt = sum(1 for g in gaps if g > d)
        cens_ge = sum(1 for c in cens if c >= d)
        want = (comp_gt + cens_ge) / (len(gaps) + cens_ge)
        assert got[d]["n_completed"] == len(gaps)
        assert got[d]["n_open_past_d"] == comp_gt
        assert got[d]["n_censored_informative"] == cens_ge
        assert abs(got[d]["survival"] - want) < 1e-12
        assert got[d]["survival"] <= prev + 1e-12
        prev = got[d]["survival"]


def test_vocab_growth_matches_python(spark):
    """q237: replay the md5-ordered corpus scan in Python; vocab and
    cumulative tokens at every decile checkpoint must agree, and the
    final vocab equals the corpus distinct-word count."""
    import hashlib
    import re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    ordered = sorted(
        docs, key=lambda r: (hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"])
    )
    word_lists = [
        sorted(set(re.findall(r"[a-z0-9]+", r["text"].lower())))
        for r in ordered
    ]
    n = len(ordered)
    got = {
        r["decile"]: r
        for r in Q.QUERIES["q237_vocab_growth"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(range(1, 11))
    for p in range(1, 11):
        cp = (n * p + 9) // 10
        seen = set()
        cum = 0
        for wl in word_lists[:cp]:
            seen.update(wl)
            cum += len(wl)
        assert got[p]["n_docs"] == cp
        assert got[p]["cum_tokens"] == cum
        assert got[p]["vocab"] == len(seen), p
    all_words = set()
    for wl in word_lists:
        all_words.update(wl)
    assert got[10]["vocab"] == len(all_words)


def test_fd_audit_sees_violations(spark):
    """q238: the customer-name FD holds, the part-name and
    orderkey→suppkey FDs are VIOLATED (generic part names collide;
    multi-supplier orders exist), and counts match a Python replay."""
    rows = {r["fd"]: r for r in Q.QUERIES["q238_fd_audit"](spark, SF_SMOKE).collect()}
    assert rows["c_name->c_custkey"]["holds"] is True
    assert rows["p_name->p_partkey"]["holds"] is False
    assert rows["p_name->p_partkey"]["n_violations"] > 0
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .collect()
    )
    from collections import defaultdict

    per = defaultdict(set)
    for r in li:
        per[r["l_orderkey"]].add(r["l_suppkey"])
    viol = sum(1 for s in per.values() if len(s) > 1)
    r = rows["l_orderkey->l_suppkey"]
    assert r["n_lhs"] == len(per)
    assert r["n_violations"] == viol
    assert r["max_rhs"] == max(len(s) for s in per.values())
    assert r["holds"] == (viol == 0)
    assert viol > 0  # the audit must demonstrably see violations


def test_lsh_planner_matches_math(spark):
    """q239: the S-curve table agrees with float math to the rounding
    tolerance of the 12-digit fixed-point squaring ladder, and the
    (16,4) banding's threshold behavior matches q26's design claim."""
    rows = {
        (r["b"], round(r["s"], 1)): r
        for r in Q.QUERIES["q239_lsh_param_planner"](spark, SF_SMOKE).collect()
    }
    assert len(rows) == 27
    for (b, s), r in rows.items():
        want = 1 - (1 - s ** (64 // b)) ** b
        assert abs(r["p_collide"] - want) < 1e-6, (b, s)
        assert r["above_half"] == (r["p_collide"] >= 0.5)
    # the q26 configuration: collisions rare at s=0.2, dominant at 0.7
    assert rows[(16, 0.2)]["p_collide"] < 0.05
    assert rows[(16, 0.7)]["p_collide"] > 0.9


def test_seasonal_decomposition_reconstructs(spark):
    """q242: trend + seasonal + residual == revenue for every interior
    month, and each calendar month's seasonal is constant across
    years."""
    rows = Q.QUERIES["q242_seasonal_decomposition"](spark, SF_SMOKE).collect()
    assert rows
    seas_by_moy = {}
    for r in rows:
        assert abs(r["trend"] + r["seasonal"] + r["residual"] - r["revenue"]) < 1e-6
        moy = r["month"].month
        seas_by_moy.setdefault(moy, set()).add(round(r["seasonal"], 6))
    for moy, vals in seas_by_moy.items():
        assert len(vals) == 1, moy


def test_fold_scalars_one_job_in_argument_order(spark):
    """_fold_scalars returns each one-row aggregate's value as an int,
    in argument order, from ONE Spark job. The inputs are
    single-partition ranges, whose aggregates need no shuffle, so no
    AQE map-stage job joins the count: four separate collects would be
    four jobs."""
    sc = spark.sparkContext
    aggs = [
        spark.range(0, 100, 1, 1).groupBy().count(),
        spark.range(3, 10, 1, 1).agg(F.max("id")),
        spark.range(0, 10, 1, 1).filter("id > 100").groupBy().count(),
        spark.range(0, 5, 1, 1).agg(F.sum("id")),
    ]
    group = f"fold_scalars_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fold_scalars")
    try:
        vals = Q._fold_scalars(*aggs)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert vals == [100, 9, 0, 10]
    assert all(type(v) is int for v in vals)
    assert len(jobs) == 1
    assert Q._fold_scalars(*reversed(aggs)) == [10, 0, 9, 100]
