"""The workloads: sizes, set-up, warm-up and the timed op mix.

Every op is one call a TSDB client makes through the public ``Engine`` API:

* ``Write``: ``Engine.write_lines`` with a line-protocol body;
* ``Query``: ``Engine.sql_arrow``, or ``Engine.sql_arrow_stream`` for the
  raw-points fetch, with the CnosDB SQL text and the DuckDB SQL that gives
  its reference answer.

An op list is a pure function of the seed and the op's position, so two
runs with one seed send identical requests.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from gen import BASE_NS, FLEETS, MEASUREMENTS, TICK_NS, Fleet, Request, ns_literal


@dataclass
class Write:
    request: Request


@dataclass
class Query:
    shape: str
    sql: str
    ref_sql: str
    stream: bool = False


@dataclass(frozen=True)
class Sizes:
    trucks: int
    ingest_lines: int  # lines per iot_ingest request (fixed count)
    # ticks each set-up round preloads (dashboard, mixed): whole ticks, so
    # that no part of a tick is left for the first realtime write
    preload_ticks: int
    setup_rounds: int  # set-up rounds per run; setup_s is their median


SIZES = {
    "full": Sizes(trucks=100, ingest_lines=2000, preload_ticks=7,
                  setup_rounds=3),
    # a few seconds of work per workload, for the benchmark's own tests
    "smoke": Sizes(trucks=10, ingest_lines=200, preload_ticks=10,
                   setup_rounds=2),
}


def iot_queries(fleet: Fleet, rng: random.Random, since_ns: int) -> list[Query]:
    """The TSBS-IoT shapes both query workloads poll, over the points at or
    after ``since_ns``; parameters (fleet, truck) from ``rng``."""
    fl = FLEETS[rng.randrange(len(FLEETS))]
    truck = f"truck_{rng.randrange(fleet.n_trucks)}"
    since = ns_literal(since_ns)
    return [
        Query(
            "last_loc",
            "SELECT name, last(time, velocity) AS velocity, "
            f"last(time, fuel_consumption) AS fuel FROM readings WHERE fleet = '{fl}' "
            f"AND time >= '{since}' GROUP BY name",
            "SELECT name, arg_max(velocity, time), arg_max(fuel_consumption, time) "
            f"FROM readings WHERE fleet = '{fl}' AND time >= TIMESTAMP '{since}' "
            "GROUP BY name",
        ),
        Query(
            "single_last_loc",
            "SELECT time, name, latitude, longitude FROM readings "
            f"WHERE name = '{truck}' ORDER BY time DESC LIMIT 1",
            "SELECT time, name, latitude, longitude FROM readings "
            f"WHERE name = '{truck}' ORDER BY time DESC LIMIT 1",
        ),
        Query(
            "avg_load",
            "SELECT fleet, model, avg(load) AS avg_load FROM diagnostics "
            f"WHERE time >= '{since}' GROUP BY fleet, model",
            "SELECT fleet, model, avg(load) FROM diagnostics "
            f"WHERE time >= TIMESTAMP '{since}' GROUP BY fleet, model",
        ),
        Query(
            "high_velocity",
            "SELECT time_window(time, interval '1 minute') AS w, name, "
            f"max(velocity) AS max_v FROM readings WHERE time >= '{since}' "
            "AND velocity > 90 GROUP BY w, name",
            "SELECT time_bucket(INTERVAL '1 minute', time) AS s, "
            "time_bucket(INTERVAL '1 minute', time) + INTERVAL '1 minute', name, "
            f"max(velocity) FROM readings WHERE time >= TIMESTAMP '{since}' "
            "AND velocity > 90 GROUP BY s, name",
        ),
        Query(
            "raw_points",
            "SELECT time, name, velocity, fuel_consumption FROM readings "
            f"WHERE fleet = '{fl}' AND time >= '{since}'",
            "SELECT time, name, velocity, fuel_consumption FROM readings "
            f"WHERE fleet = '{fl}' AND time >= TIMESTAMP '{since}'",
            stream=True,
        ),
    ]


def dashboard_only_queries(fleet: Fleet, rng: random.Random) -> list[Query]:
    """The shapes only ``iot_dashboard`` runs: gap-fill with ``locf`` over
    one offline-prone truck, and ``SHOW TAG VALUES`` (the series-index
    path)."""
    gap_truck = f"truck_{10 * rng.randrange(max(1, fleet.n_trucks // 10))}"
    return [
        Query(
            "gapfill_locf",
            "SELECT time_window_gapfill(time, interval '10 seconds') AS w, name, "
            "locf(avg(fuel_state)) AS fuel FROM diagnostics "
            f"WHERE name = '{gap_truck}' GROUP BY w, name",
            "WITH a AS (SELECT time_bucket(INTERVAL '10 seconds', time) AS w, name, "
            f"avg(fuel_state) AS v FROM diagnostics WHERE name = '{gap_truck}' "
            "GROUP BY w, name), "
            "s AS (SELECT name, unnest(generate_series(min(w), max(w), "
            "INTERVAL '10 seconds')) AS w FROM a GROUP BY name) "
            "SELECT s.w, s.name, last_value(a.v IGNORE NULLS) OVER (PARTITION BY "
            "s.name ORDER BY s.w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "FROM s LEFT JOIN a ON a.name = s.name AND a.w = s.w",
        ),
        Query(
            "tag_values",
            'SHOW TAG VALUES FROM readings WITH KEY IN ("fleet", "model")',
            "SELECT DISTINCT 'fleet', fleet FROM readings UNION ALL "
            "SELECT DISTINCT 'model', model FROM readings",
        ),
    ]


def checksum_queries() -> list[Query]:
    """Per table, an exact checksum of the merged rows: count, time range
    and scaled integer sums of every field."""
    out = []
    for m, spec in MEASUREMENTS.items():
        sums = ", ".join(
            f"sum({f})" if s[2] is None
            else f"sum(CAST(round({f} * {10 ** s[2]}) AS BIGINT))"
            for f, s in spec.items()
        )
        sql = f"SELECT count(*), min(time), max(time), {sums} FROM {m}"
        out.append(Query(f"{m}.checksum", sql, sql))
    return out


def table_check_queries() -> list[Query]:
    """Per table, the physical row count (a bare ``count(*)`` counts rows
    before the merge, as CnosDB does), then the checksums."""
    counts = [Query(f"{m}.count", f"SELECT count(*) FROM {m}",
                    f"SELECT count(*) FROM raw_{m}") for m in MEASUREMENTS]
    return counts + checksum_queries()


class Workload:
    """One set-up round's request, the untimed warm-up, the reads timed on
    the set-up's data state, the cycle of ops of the timed phase and how
    many cycles it holds, and the end-of-run check reads."""

    name = ""
    # seconds one cycle takes at the reference host speed (worker.HostRef),
    # measured on the commit that defined the benchmark; it sets how many
    # cycles ``--seconds`` buys, and stays fixed so that every commit runs
    # the same ops
    cycle_s = 1.0

    def __init__(self, fleet: Fleet, sizes: Sizes, seed: int):
        self.fleet = fleet
        self.sizes = sizes
        self.rng = random.Random(seed * 7919 + 1)

    def setup_request(self) -> Request:
        """The part of the preloaded history one set-up round writes."""
        return self.fleet.request_ticks(self.sizes.preload_ticks)

    def warmup(self) -> list:
        return self.cycle()

    def state_reads(self) -> list[Query]:
        return []

    def end_check(self) -> list[Query]:
        return []

    def cycles(self, seconds: float) -> int:
        return max(1, round(seconds / self.cycle_s))

    def cycle(self) -> list:
        raise NotImplementedError


class Ingest(Workload):
    """Bulk history load: fixed-size requests, no queries in the timed
    phase. The set-up rounds write the first requests of the history,
    which warms the write path. The warm-up runs both checksum reads,
    cold, and the ``readings`` one again; five more ``readings``
    checksums over the same set-up data are timed for this workload's
    query metrics, on data that a change to the write path cannot move.
    The end check reads the final state."""

    name = "iot_ingest"
    cycle_s = 2.4  # one 2,000-line request

    def setup_request(self):
        return self.fleet.request_lines(self.sizes.ingest_lines)

    def warmup(self):
        # the readings checksum twice: the first two timed ones after a
        # single warm-up run were still 20-40% slower than the later ones
        return checksum_queries() + checksum_queries()[:1]

    def state_reads(self):
        # one shape: the latencies of the cheaper diagnostics checksum or
        # of the counts form a second mode, and the median of a mix falls
        # between the two
        return checksum_queries()[:1] * 5

    def end_check(self):
        return table_check_queries()

    def cycle(self):
        return [Write(self.fleet.request_lines(self.sizes.ingest_lines))]


class Dashboard(Workload):
    """Preloaded history, then the IoT shapes over all of it, no writes."""

    name = "iot_dashboard"
    cycle_s = 4.5  # seven queries

    def cycle(self):
        return [*iot_queries(self.fleet, self.rng, BASE_NS),
                *dashboard_only_queries(self.fleet, self.rng)]


class Mixed(Workload):
    """Preloaded history, then cycles of one realtime write (one tick of
    the fleet) and five queries on the latest minute (six ticks)."""

    name = "iot_mixed"
    cycle_s = 5.5  # one realtime write, five queries

    def warmup(self):
        # the cycle's queries only: the set-up rounds already warmed the
        # write path
        return iot_queries(self.fleet, self.rng, self.fleet.newest_ns - 5 * TICK_NS)

    def cycle(self):
        w = Write(self.fleet.request_ticks(1))
        since = self.fleet.newest_ns - 5 * TICK_NS
        return [w, *iot_queries(self.fleet, self.rng, since)]


WORKLOADS = {w.name: w for w in (Ingest, Dashboard, Mixed)}
