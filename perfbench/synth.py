"""Seeded synthetic metadata tables for the two metadata-plane workloads.

The tables hold log actions only: every AddFile names a parquet file that
does not exist, which the metadata plane never opens.  Each file carries
min/max/nullCount stats for `id` and `ts`, and the table is partitioned by
`region` and `day`, so scans exercise both partition pruning and stats
skipping.  Everything is committed through `OptimisticTransaction.commit`,
so the log, its checkpoints and `_last_checkpoint` are the engine's own.
"""

from __future__ import annotations

import json
import random

from delta_go_spark.actions import AddFile, Metadata
from delta_go_spark.log import DeltaLog

REGIONS = tuple(f"r{i}" for i in range(8))
DAYS = tuple(f"d{i:02d}" for i in range(16))
TS_DOMAIN = 1_000_000
CHECKPOINT_INTERVAL = 10

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in (("id", "long"), ("ts", "long"), ("region", "string"), ("day", "string"))
        ],
    }
)


def create_table(log: DeltaLog) -> None:
    """Version 0: metadata (+ the protocol the engine adds)."""
    log.start_transaction().commit(
        [
            Metadata(
                schema_string=SCHEMA_JSON,
                partition_columns=["region", "day"],
                configuration={"delta.checkpointInterval": str(CHECKPOINT_INTERVAL)},
                created_time=1_700_000_000_000,
            )
        ],
        operation="CREATE TABLE",
    )


def commit_as(log: DeltaLog, actions: list, version: int) -> None:
    """Commit `actions` in a new transaction; it must land at `version`."""
    got = log.start_transaction().commit(actions, operation="WRITE")
    if got != version:
        raise RuntimeError(f"set-up committed version {got}, expected {version}")


def make_add(rng: random.Random, name: str, region: str, day: str | None = None) -> AddFile:
    """One AddFile with stats; `ts` spans 0.5%-4% of its domain."""
    day = day or DAYS[rng.randrange(len(DAYS))]
    lo = rng.randrange(TS_DOMAIN)
    hi = lo + rng.randrange(TS_DOMAIN // 200, TS_DOMAIN // 25)
    rows = rng.randrange(1_000, 50_000)
    base = rng.randrange(1 << 40)
    stats = {
        "numRecords": rows,
        "minValues": {"id": base, "ts": lo},
        "maxValues": {"id": base + rows - 1, "ts": hi},
        "nullCount": {"id": 0, "ts": 0},
    }
    return AddFile(
        path=f"region={region}/day={day}/part-{name}.parquet",
        partition_values={"region": region, "day": day},
        size=rng.randrange(1 << 20, 1 << 27),
        modification_time=1_700_000_000_000,
        data_change=True,
        stats=json.dumps(stats, separators=(",", ":")),
    )


def ts_range(add: AddFile) -> tuple[int, int]:
    s = json.loads(add.stats)
    return s["minValues"]["ts"], s["maxValues"]["ts"]


def may_match(add: AddFile, region: str, lo: int, hi: int) -> bool:
    """The model's own verdict for `region = R AND ts >= lo AND ts < hi`:
    partition equal, and the file's [min, max] meets [lo, hi)."""
    if add.partition_values["region"] != region:
        return False
    mn, mx = ts_range(add)
    return mx >= lo and mn < hi
