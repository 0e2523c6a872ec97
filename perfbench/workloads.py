"""The two workloads.  Each takes a live SparkSession, a generated batch
and a Tracer, and returns a ``Result``: raw samples for the metrics, the
answers to check, and how many operations were attempted and failed.

weekly_load    raw → silver → gold for every cut of the week in arrival
               order (traced runs then refresh Q1–Q15 over the fresh
               gold).  The only workload that writes the lake.
portal_serving closed loop of client threads issuing a Zipf-skewed mix
               of the portal's five query types over a silver lake
               built during set-up; nothing is written while timed.
"""

from __future__ import annotations

import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from data_lakehouse_movilidad_publica_santiago_spark.analytics import business
from data_lakehouse_movilidad_publica_santiago_spark.gold.runner import GoldLoader
from data_lakehouse_movilidad_publica_santiago_spark.serving import webapp
from data_lakehouse_movilidad_publica_santiago_spark.serving.query_service import (
    SilverLake,
)
from data_lakehouse_movilidad_publica_santiago_spark.silver.runner import run_silver
from data_lakehouse_movilidad_publica_santiago_spark.sources.catalog import (
    discover_partitions,
)

# statistical floors of Q5/Q7 sized to the generated week (the
# reference's 1000 legs / 3 days assume a full production cut)
ANALYTICS_PARAMS = {"min_legs": 5, "min_days": 2}
QUERY_TYPES = (
    "overview", "demand_by_day_type", "demand_by_mode", "top_boardings", "map_points",
)  # fmt: skip
DATASET_KEY = {"viajes": "viajes", "etapas": "etapas", "subidas_30m": "subidas"}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    answers: dict = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


def _partition(root: Path, cut):
    return discover_partitions(root, cut.dataset, cut.cut)[0]


def build_silver(spark, tracer, batch, res: Result) -> None:
    """raw → silver for every cut, the cuts side by side (portal
    set-up; the cuts write disjoint partitions)."""

    def one(cut):
        key = DATASET_KEY[cut.dataset]
        t0 = time.perf_counter()
        with tracer.span("silver.run_silver", spark, request_id=f"silver-{cut.cut}"):
            run_silver(spark, _partition(batch.root, cut), batch.root)
        return key, time.perf_counter() - t0

    with ThreadPoolExecutor(len(batch.cuts)) as ex:
        for key, secs in ex.map(one, batch.cuts):
            res.add(f"silver.{key}_s", secs)


# ── weekly_load ────────────────────────────────────────────────────


def weekly_load(spark, tracer, batch, workers: int, analytics: bool) -> Result:
    """Load every cut, re-run one, and with ``analytics`` refresh Q1–Q15
    over the fresh gold."""
    res = Result()
    gold_root = batch.root / "gold"
    loader = GoldLoader(spark, gold_root)
    for cut in batch.cuts:
        key = DATASET_KEY[cut.dataset]
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("load.cut", dataset=key, cut=cut.cut):
                part = _partition(batch.root, cut)
                with tracer.span("silver.run_silver", dataset=key, cut=cut.cut):
                    run_silver(spark, part, batch.root)
                t1 = time.perf_counter()
                with tracer.span("gold.GoldLoader.run", dataset=key, cut=cut.cut):
                    status = loader.run(part, batch.root)["status"]
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            res.fail(f"load {key}/{cut.cut}", exc)
            continue
        if status != "OK":
            res.failed += 1
            res.errors.append(f"load {key}/{cut.cut}: status {status}")
        res.add(f"silver.{key}_s", t1 - t0)
        res.add(f"gold.{key}_s", t2 - t1)
        res.add("cut_s", t2 - t0)
        if cut.dataset == "viajes":
            res.add("daily_cut_s", t2 - t0)

    # idempotency: an already-OK cut must come back SKIPPED, quickly
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        with tracer.span("gold.GoldLoader.run", dataset="skip"):
            res.answers["rerun_status"] = loader.run(
                _partition(batch.root, batch.cuts[0]), batch.root
            )["status"]
        res.add("gold.skip_s", time.perf_counter() - t0)
    except Exception as exc:  # noqa: BLE001
        res.fail("gold re-run", exc)
        res.answers["rerun_status"] = "FAILED"

    if analytics:
        _analytics_pass(spark, tracer, gold_root, res, workers)
    return res


def _analytics_pass(spark, tracer, gold_root: Path, res: Result, workers: int) -> None:
    """One analyst's dashboard refresh over the gold the load just
    wrote: Q1–Q15 sent together over ``workers`` connections."""
    business.register_gold_views(spark, gold_root)

    def one(name: str):
        t0 = time.perf_counter()
        with tracer.span(f"analytics.{name}", spark, request_id=f"analytics-{name}"):
            rows = business.run(spark, name, ANALYTICS_PARAMS).collect()
        return 1000 * (time.perf_counter() - t0), [r.asDict() for r in rows]

    t_pass = time.perf_counter()
    with tracer.span("analytics.pass"), ThreadPoolExecutor(workers) as ex:
        futures = {name: ex.submit(one, name) for name in business.BUSINESS_QUERIES}
        for name, fut in futures.items():
            res.attempted += 1
            try:
                ms, rows = fut.result()
            except Exception as exc:  # noqa: BLE001
                res.fail(f"analytics {name}", exc)
                continue
            res.add(f"analytics.{name}_ms", ms)
            res.answers.setdefault("analytics", {})[name] = rows
    res.add("pass_ms", 1000 * (time.perf_counter() - t_pass))


# ── portal_serving ─────────────────────────────────────────────────

CUT_RANGES = [
    (None, None), ("2025-04-21", "2025-04-21"), ("2025-04-22", "2025-04-23"),
    ("2025-04-21", "2025-04-30"), ("2025-04-23", None),
]  # fmt: skip
DAY_SETS = [[], ["LABORAL"], ["SABADO", "DOMINGO"], ["DOMINGO"]]
MODE_SETS = [[], ["BUS"], ["METRO", "ZP"], ["METROTREN"]]
HOURS = [(None, None), (6, 9), (17, 20), (0, 23), (10, 15)]
FILTERS_PER_TYPE = 8


def request_catalog(seed: int, per_type: int = FILTERS_PER_TYPE) -> dict[str, list[dict]]:
    """The bounded set of distinct requests: per query type, the
    default-filter dashboard request first (most popular), then seeded
    filter combinations in seeded popularity order."""
    rng = random.Random(f"portal-catalog-{seed}")
    out: dict[str, list[dict]] = {}
    for qt in QUERY_TYPES:
        reqs = [{"query_type": qt}]
        while len(reqs) < per_type:
            (cf, ct), (hf, ht) = rng.choice(CUT_RANGES), rng.choice(HOURS)
            req = {
                "query_type": qt, "cut_from": cf, "cut_to": ct,
                "tipo_dia": rng.choice(DAY_SETS), "mode": rng.choice(MODE_SETS),
                "hour_from": hf, "hour_to": ht,
            }  # fmt: skip
            req = {k: v for k, v in req.items() if v not in (None, [])}
            if req not in reqs:
                reqs.append(req)
        out[qt] = reqs
    return out


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (rank**s) for rank in range(1, n + 1)]


def serve(lake: SilverLake, req: dict) -> list[dict]:
    """One portal request through the framework-free API layer."""
    params = {k: v for k, v in req.items() if k != "query_type"}
    if req["query_type"] == "map_points":
        return webapp.dispatch_map_points(lake, webapp.MapPointsRequest(**params))["points"]
    payload = webapp.UserQueryRequest(query_type=req["query_type"], **params)
    return webapp.dispatch(lake, payload).rows


def warm_up(spark, tracer, lake, res: Result) -> None:
    """The portal set-up's warm-up: one page load, the five query types
    with default filters sent together as a browser does."""

    def one(qt: str) -> None:
        with tracer.span(f"serving.{qt}", spark, request_id=f"warm-{qt}"):
            serve(lake, {"query_type": qt})

    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(QUERY_TYPES)) as ex:
        list(ex.map(one, QUERY_TYPES))
    res.add("warm_ms", 1000 * (time.perf_counter() - t0))


def portal_serving(spark, tracer, lake_root: Path, seed: int, seconds: float, clients: int) -> Result:
    """Each client cycles through the five query types (client k starts
    at type k, so the clients in flight ask for different types) and
    draws each request's filters from that type's Zipf-ranked catalog:
    the type mix is fixed, the filter popularity is skewed and seeded."""
    res = Result()
    lake = SilverLake(spark, lake_root)
    catalog = request_catalog(seed)
    weights = zipf_weights(FILTERS_PER_TYPE)
    first_answer: dict[tuple[str, int], list[dict]] = {}
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds

    def client(idx: int) -> None:
        rng = random.Random(f"portal-client-{seed}-{idx}")
        n = 0
        t_first = time.perf_counter()
        while time.perf_counter() < deadline:
            qt = QUERY_TYPES[(idx + n) % len(QUERY_TYPES)]
            i = rng.choices(range(FILTERS_PER_TYPE), weights)[0]
            rid = f"c{idx}-{n}"
            n += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"serving.{qt}", spark, request_id=rid):
                    rows = serve(lake, catalog[qt][i])
            except Exception as exc:  # noqa: BLE001
                with lock:
                    res.attempted += 1
                    res.fail(f"request {catalog[qt][i]}", exc)
                continue
            ms = 1000 * (time.perf_counter() - t0)
            with lock:
                res.attempted += 1
                res.add("latency_ms", ms)
                res.add(f"serving.{qt}_ms", ms)
                first_answer.setdefault((qt, i), rows)
        with lock:
            # a client's rate over its own busy span: no idle tail
            res.add("client_rps", n / (time.perf_counter() - t_first))

    t_start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(k,)) for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res.add("loop_s", time.perf_counter() - t_start)

    res.answers["requests"] = [
        (catalog[qt][i], rows) for (qt, i), rows in sorted(first_answer.items())
    ]
    return res
