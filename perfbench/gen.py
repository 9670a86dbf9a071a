"""Seeded wire-format input for the ``ingest`` workload.

Deliberately independent of ``weather_monitoring_spark.sources.generator``:
the engine's own generator may change, the benchmark's inputs may not. The
same seed always yields the same files and the same expected outputs.

What the stream contains, and why:

- ``n_stations`` stations, each emitting readings with a per-station
  ``sequenceNumber`` that increases by one per reading; about 10% of readings
  are dropped after their number is assigned, so sequences have gaps (the
  reference producer's behaviour). The latest-per-station view must pick the
  highest surviving number, not the last arrival.
- About 2% of valid readings are replayed later in the stream, byte for byte
  (an at-least-once channel). The archive and the rain alerts keep both
  copies; the latest view and the index must absorb them (idempotence).
- About 5% of valid readings carry a capitalised battery status, which the
  engine lower-cases (the enum check is case-insensitive).
- About 0.5% of lines are malformed or off-domain (truncated JSON, an unknown
  battery status, a missing station id); each must land in the rejects sink.
- Humidity is uniform on [10, 100], so about a third of valid readings raise
  a rain alert (humidity > 70).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

BASE_EPOCH_MS = 1_700_000_000_000
#: Event-time step between a station's consecutive readings; spreads one
#: backlog over a few (date, hour) archive partitions.
TICK_MS = 60_000
BATTERY = ("low", "medium", "high")
DROP_SHARE = 0.10
REPLAY_SHARE = 0.02
CAPITALISED_SHARE = 0.05
MALFORMED_SHARE = 0.005
RAIN_HUMIDITY = 70  # alert when humidity is strictly above


def _mix(h: np.ndarray, x: np.ndarray) -> np.ndarray:
    """One splitmix64-style round folding column ``x`` into hash ``h``."""
    with np.errstate(over="ignore"):
        z = (h ^ x.astype(np.uint64)) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def row_hashes(cols: dict[str, np.ndarray]) -> np.ndarray:
    """Per-row 64-bit hash of a canonical reading. ``cols`` holds integer
    arrays: station_id, s_no, battery (index into BATTERY), ts_ms, humidity,
    temperature, wind_speed."""
    h = np.zeros(len(cols["station_id"]), dtype=np.uint64)
    for name in ("station_id", "s_no", "battery", "ts_ms", "humidity", "temperature", "wind_speed"):
        h = _mix(h, cols[name].astype(np.int64))
    return h


def multiset_digest(cols: dict[str, np.ndarray]) -> tuple[int, int]:
    """Order-insensitive digest of a row multiset: (row count, sum of row
    hashes mod 2**64)."""
    h = row_hashes(cols)
    return len(h), int(h.sum(dtype=np.uint64))  # uint64 sums wrap mod 2**64


@dataclass
class Expected:
    """What a correct engine produces from one backlog."""

    lines: int  # every line landed, malformed ones included
    valid_rows: int  # archive rows (replays included)
    archive: tuple[int, int]  # multiset digest of the archive
    view: tuple[int, int]  # digest of the latest row per station
    distinct_docs: int  # distinct (station_id, s_no): the index doc count
    rejects: int
    bad_lines: tuple[int, ...]  # positions of the lines to reject
    rain_alerts: int  # valid rows (replays included) with humidity > 70


def _subset(cols: dict[str, np.ndarray], mask: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[mask] for k, v in cols.items()}


def backlog(seed: int, n_lines: int, n_stations: int) -> tuple[list[str], Expected]:
    """About ``n_lines`` wire-JSON lines in arrival order, and the outputs
    they must produce."""
    rng = np.random.default_rng(seed)
    # Readings kept before replays and malformed lines are added.
    n_valid = int(n_lines / (1 + REPLAY_SHARE + MALFORMED_SHARE))
    n_emitted = int(n_valid / (1 - DROP_SHARE)) + n_stations
    ticks = -(-n_emitted // n_stations)
    station = np.tile(np.arange(1, n_stations + 1, dtype=np.int64), ticks)
    tick = np.repeat(np.arange(ticks, dtype=np.int64), n_stations)
    # Stations do not emit in lockstep: a per-station phase offset.
    phase = rng.integers(0, TICK_MS, n_stations, dtype=np.int64)
    kept = rng.random(len(station)) >= DROP_SHARE
    station, tick = station[kept][:n_valid], tick[kept][:n_valid]
    n = len(station)
    cols = {
        "station_id": station,
        "s_no": tick + 1,
        "battery": rng.choice(3, n, p=[0.3, 0.4, 0.3]).astype(np.int64),
        "ts_ms": BASE_EPOCH_MS + tick * TICK_MS + phase[station - 1],
        "humidity": rng.integers(10, 101, n, dtype=np.int64),
        "temperature": rng.integers(32, 111, n, dtype=np.int64),
        "wind_speed": rng.integers(0, 61, n, dtype=np.int64),
    }
    capitalised = rng.random(n) < CAPITALISED_SHARE

    # Arrival order: emission order, replays a few thousand lines later.
    replay = np.flatnonzero(rng.random(n) < REPLAY_SHARE)
    order_keys = np.concatenate(
        [np.arange(n, dtype=np.float64), replay + rng.uniform(1, 5000, len(replay))]
    )
    source_row = np.concatenate([np.arange(n), replay])
    arrival = source_row[np.argsort(order_keys, kind="stable")]

    texts = [
        json.dumps(
            {
                "stationId": int(cols["station_id"][i]),
                "sequenceNumber": int(cols["s_no"][i]),
                "batteryStatus": BATTERY[cols["battery"][i]].capitalize()
                if capitalised[i]
                else BATTERY[cols["battery"][i]],
                "statusTimestamp": int(cols["ts_ms"][i]),
                "weather": {
                    "humidity": int(cols["humidity"][i]),
                    "temperature": int(cols["temperature"][i]),
                    "wind_speed": int(cols["wind_speed"][i]),
                },
            },
            separators=(",", ":"),
        )
        for i in range(n)
    ]
    lines = [texts[i] for i in arrival]

    n_bad = int(len(lines) * MALFORMED_SHARE)
    bad_at = np.sort(rng.choice(len(lines) + n_bad, n_bad, replace=False))
    for k, pos in enumerate(bad_at):
        lines.insert(int(pos), _malformed(texts[int(rng.integers(n))], k))

    archive_cols = _subset(cols, np.concatenate([np.arange(n), replay]))
    latest = np.zeros(n, dtype=bool)
    # Rows are in (tick, station) order, so a station's last row is its latest.
    _, last_from_end = np.unique(cols["station_id"][::-1], return_index=True)
    latest[n - 1 - last_from_end] = True
    expected = Expected(
        lines=len(lines),
        valid_rows=n + len(replay),
        archive=multiset_digest(archive_cols),
        view=multiset_digest(_subset(cols, latest)),
        distinct_docs=n,
        rejects=n_bad,
        bad_lines=tuple(int(i) for i in bad_at),
        rain_alerts=int((archive_cols["humidity"] > RAIN_HUMIDITY).sum()),
    )
    return lines, expected


def _malformed(valid_text: str, k: int) -> str:
    """A line the engine must reject, in one of three ways."""
    kind = k % 3
    if kind == 0:  # truncated in transit
        return valid_text[: len(valid_text) // 2]
    msg = json.loads(valid_text)
    if kind == 1:  # battery status outside the enum
        msg["batteryStatus"] = "unknown"
    else:  # no station id
        del msg["stationId"]
    return json.dumps(msg, separators=(",", ":"))


def split_files(lines: list[str], n_files: int) -> list[str]:
    """Cut the backlog into ``n_files`` newline-terminated file bodies of
    near-equal line counts, in arrival order."""
    bounds = np.linspace(0, len(lines), n_files + 1).astype(int)
    return ["\n".join(lines[a:b]) + "\n" for a, b in zip(bounds[:-1], bounds[1:])]
