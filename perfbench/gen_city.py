"""Seeded, deterministic city-scale GTFS generator.

Writes what a transit agency publishes, and nothing the engine could
use to cheat: four static GTFS CSVs, protobuf FeedMessage snapshots
(encoded with the engine's own `sources.gtfs_rt_pb.encode_feed_message`)
and the same snapshots as JSON.  Alongside, it returns the ground
truth the benchmark checks against: the expected row count of every
bronze table and the tally of every injected delay, computed here from
the generator's own numbers and never read back from the engine.

The same (seed, sizes) always gives byte-identical files.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

SERVICE_DATE = dt.date(2024, 3, 4)  # a Monday; schedule anchor
SERVICE_MIDNIGHT = calendar.timegm(SERVICE_DATE.timetuple())  # UTC epoch
PUNCTUAL_S = 180  # plans.kpis.PUNCTUAL_THRESHOLD_S
FIRST_SNAPSHOT_S = 7 * 3600  # 07:00 service time
SNAPSHOT_EVERY_S = 120  # the reference's 2-minute RT cadence


@dataclass(frozen=True)
class CitySize:
    routes: int
    stops: int
    trips: int
    stops_per_trip: int
    trips_per_snapshot: int
    updates_per_trip: int
    vehicles_per_snapshot: int


@dataclass
class Truth:
    """Expected bronze row counts plus the injected-delay tally."""
    static_rows: dict[str, int] = field(default_factory=dict)
    # per snapshot: rows each RT bronze table gains from it
    rt_rows: list[dict[str, int]] = field(default_factory=list)
    # per snapshot: (joined stop events, of which punctual)
    delays: list[tuple[int, int]] = field(default_factory=list)

    def rt_total(self, table: str, n_snapshots: int | None = None) -> int:
        return sum(r[table] for r in self.rt_rows[:n_snapshots])

    def punctuality(self, n_snapshots: int | None = None) -> tuple[int, int]:
        d = self.delays[:n_snapshots]
        return sum(n for n, _ in d), sum(p for _, p in d)


def _hms(s: int) -> str:
    return f"{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"


class City:
    """A generated network: static schedule in memory, snapshots on
    demand.  Snapshot k is a pure function of (seed, k)."""

    def __init__(self, seed: int, size: CitySize):
        self.seed = seed
        self.size = size
        rng = random.Random(seed)
        self.route_of = [i % size.routes for i in range(size.trips)]
        self.trip_ids = [f"{6444367 + i}-{i % 97}_R_{self.route_of[i]}"
                         for i in range(size.trips)]
        # each trip visits distinct stops (so the (trip, stop_id)
        # fallback join of observed_vs_scheduled matches exactly once);
        # start times spread 05:00-25:30 so some trips cross midnight
        self.trip_stops: list[list[int]] = []
        self.trip_start: list[int] = []
        self.hop_s: list[int] = []
        for i in range(size.trips):
            first = rng.randrange(size.stops)
            step = 1 + rng.randrange(max(1, size.stops // size.stops_per_trip))
            self.trip_stops.append([(first + k * step) % size.stops
                                    for k in range(size.stops_per_trip)])
            self.trip_start.append(5 * 3600 + rng.randrange(0, 20 * 3600 + 1800, 60))
            self.hop_s.append(rng.choice((60, 90, 120, 150)))
        self.stop_coords = [(43.70 + rng.uniform(-0.08, 0.08),
                             7.26 + rng.uniform(-0.12, 0.12))
                            for _ in range(size.stops)]

    def sched_s(self, trip: int, seq: int) -> int:
        """Scheduled arrival (seconds after service midnight) at the
        1-based stop_sequence `seq` of `trip`."""
        return self.trip_start[trip] + (seq - 1) * self.hop_s[trip]

    # ---- static ----------------------------------------------------
    def write_static(self, out_dir: str, truth: Truth) -> None:
        s = self.size
        os.makedirs(out_dir, exist_ok=True)
        rng = random.Random(self.seed * 7 + 1)
        with open(os.path.join(out_dir, "routes.txt"), "w") as f:
            f.write("route_id,agency_id,route_short_name,route_long_name,"
                    "route_type,route_url,route_color,route_text_color\n")
            for r in range(s.routes):
                color = "NULL" if rng.random() < 0.1 else "0000FF"
                f.write(f"R{r},LA,{r},\"Terminus A — Terminus B {r}\","
                        f"{rng.choice((0, 3))},http://ex.org/r{r},{color},FFFFFF\n")
        with open(os.path.join(out_dir, "trips.txt"), "w") as f:
            f.write("route_id,service_id,trip_id,trip_headsign,trip_short_name,"
                    "direction_id,shape_id,wheelchair_accessible,bike_allowed\n")
            for i, tid in enumerate(self.trip_ids):
                direction = "" if rng.random() < 0.05 else str(i % 2)
                f.write(f"R{self.route_of[i]},Semaine,{tid},Dest {i % 5},,"
                        f"{direction},S{i % 7},{i % 3},{(i // 3) % 3}\n")
        with open(os.path.join(out_dir, "stops.txt"), "w") as f:
            f.write("stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,"
                    "location_type,parent_station,stop_timezone,"
                    "wheelchair_boarding\n")
            for k, (lat, lon) in enumerate(self.stop_coords):
                parent = "" if k % 5 else f"P{k // 10}"
                f.write(f"{1271 + k},C{k},\"Arrêt {k}\",{lat:.6f},{lon:.6f},"
                        f"Z{k % 4},0,{parent},Europe/Paris,{k % 3}\n")
        with open(os.path.join(out_dir, "stop_times.txt"), "w") as f:
            f.write("trip_id,arrival_time,departure_time,stop_id,"
                    "stop_sequence,pickup_type,drop_off_type\n")
            lines = []
            for i, tid in enumerate(self.trip_ids):
                for seq, stop in enumerate(self.trip_stops[i], start=1):
                    a = self.sched_s(i, seq)
                    lines.append(f"{tid},{_hms(a)},{_hms(a + 30)},{1271 + stop},"
                                 f"{seq},0,0\n")
            f.write("".join(lines))
        truth.static_rows.update({
            "routes_static": s.routes, "trips_static": s.trips,
            "stops_static": s.stops,
            "stop_times_static": s.trips * s.stops_per_trip,
        })

    # ---- realtime --------------------------------------------------
    def snapshot(self, k: int, truth: Truth) -> dict:
        """FeedMessage dict for snapshot k; appends its expected rows
        and delay tally to `truth` (call in order k = 0, 1, ...)."""
        s = self.size
        if k != len(truth.rt_rows):
            raise ValueError(f"snapshot {k} made out of order")
        rng = random.Random((self.seed << 20) + k)
        now = SERVICE_MIDNIGHT + FIRST_SNAPSHOT_S + k * SNAPSHOT_EVERY_S
        active = rng.sample(range(s.trips), s.trips_per_snapshot)
        entities: list[dict] = []
        n_stop_rows = n_headers = n_joined = n_punctual = 0
        for i in active:
            tid = self.trip_ids[i]
            first_seq = 1 + rng.randrange(s.stops_per_trip - s.updates_per_trip + 1)
            stus = []
            for seq in range(first_seq, first_seq + s.updates_per_trip):
                delay = int(rng.gauss(90, 160))
                t = SERVICE_MIDNIGHT + self.sched_s(i, seq) + delay
                stu: dict = {"arrival": {"time": t}}
                if rng.random() < 0.9:
                    stu["stop_sequence"] = seq
                # every update keeps a stop_id so the no-sequence rows
                # still join through the (trip, stop_id) fallback
                stu["stop_id"] = str(1271 + self.trip_stops[i][seq - 1])
                if rng.random() < 0.7:
                    stu["departure"] = {"time": t + 30}
                stus.append(stu)
                n_joined += 1
                n_punctual += abs(delay) <= PUNCTUAL_S
            trip = {"trip_id": tid, "route_id": f"R{self.route_of[i]}"}
            if rng.random() < 0.85:
                trip["direction_id"] = i % 2
            entities.append({"id": f"tu-{i}",
                             "trip_update": {"trip": trip,
                                             "stop_time_update": stus}})
            n_headers += 1
            n_stop_rows += len(stus)
            if rng.random() < 0.05:
                # duplicate trip entity: header is first-wins, but its
                # stop row still lands (and still joins the schedule)
                entities.append({"id": f"tu-{i}-dup",
                                 "trip_update": {"trip": dict(trip, route_id="DUP"),
                                                 "stop_time_update": stus[:1]}})
                n_stop_rows += 1
                n_joined += 1
                n_punctual += abs(stus[0]["arrival"]["time"] - SERVICE_MIDNIGHT
                                  - self.sched_s(i, first_seq)) <= PUNCTUAL_S
        for v in range(s.vehicles_per_snapshot):
            i = active[v % len(active)]
            stop = self.trip_stops[i][v % s.stops_per_trip]
            lat, lon = self.stop_coords[stop]
            entities.append({"id": f"vp-{v}", "vehicle": {
                "trip": {"trip_id": self.trip_ids[i],
                         "route_id": f"R{self.route_of[i]}"},
                "position": {"latitude": lat, "longitude": lon,
                             "bearing": float(rng.randrange(360))},
                "vehicle": {"id": f"V{v}"},
                "stop_id": str(1271 + stop),
                "timestamp": now - rng.choice((0, 0, 30, 90)),
            }})
        truth.rt_rows.append({"trip_updates_raw": n_headers,
                              "trip_stop_times": n_stop_rows,
                              "vehicle_positions_raw": s.vehicles_per_snapshot})
        truth.delays.append((n_joined, n_punctual))
        return {"entity": entities}


def write_snapshots(city: City, first: int, n: int, out_dir: str,
                    truth: Truth, *, fmt: str) -> list[str]:
    """Snapshots first..first+n-1 as `.pb` (fmt="pb") or `.json` files
    named in arrival order; returns their paths."""
    from tp_airflow_gtfs_snowflake_spark.sources.gtfs_rt_pb import (
        encode_feed_message)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(first, first + n):
        msg = city.snapshot(k, truth)
        path = os.path.join(out_dir, f"feed_{k:05d}.{fmt}")
        if fmt == "pb":
            with open(path, "wb") as f:
                f.write(encode_feed_message(msg))
        else:
            with open(path, "w") as f:
                json.dump(msg, f, separators=(",", ":"))
        paths.append(path)
    return paths
