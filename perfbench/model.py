"""Independent expected state for the CDC workloads.

A plain-Python sequential model of what the pipeline must leave behind,
computed from the generated JSON files alone, and an order-independent
table checksum that Spark's ``crc32`` and Python's ``zlib.crc32`` compute
alike over one canonical text form per row.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass, field

from gen import TABLES

NULL = "\\N"
SEP = "|"


def table_name(qualified: str) -> str:
    return qualified.split(".")[-1].lower()


def checksum_columns(qualified: str) -> list[tuple[str, str]]:
    """(column, kind) pairs the checksum covers: every data column plus the
    lineage columns the model can predict. ``admin_hash`` (Spark's Murmur3
    of the whole image) and ``admin_event_ts`` (wall clock) are left out."""
    columns, _ = TABLES[qualified]
    out = [(name, kind) for kind, names in columns.items() for name in names]
    return out + [("admin_gg_pos", "string"), ("admin_gg_op_ts", "timestamp")]


def _canon(value, kind: str) -> str:
    if value is None:
        return NULL
    if kind == "int":
        return str(int(value))
    if kind == "date":
        return value[:10]
    if kind == "timestamp":
        return value[:26]
    return value


def row_text(qualified: str, event: dict) -> str:
    """Canonical text of the target row an event's image maps to."""
    image = event["before"] if event["op_type"] == "D" else event["after"]
    parts = []
    for name, kind in checksum_columns(qualified):
        if name == "admin_gg_pos":
            parts.append(event["pos"])
        elif name == "admin_gg_op_ts":
            parts.append(_canon(event["op_ts"], "timestamp"))
        else:
            parts.append(_canon(image.get(name.upper()), kind))
    return SEP.join(parts)


@dataclass
class Batch:
    """One pipeline input: its parsed events and its malformed lines."""

    events: list[dict] = field(default_factory=list)
    malformed: list[str] = field(default_factory=list)
    n_bytes: int = 0


def read_batch(paths: list[str]) -> Batch:
    batch = Batch()
    for path in paths:
        batch.n_bytes += os.path.getsize(path)
        with open(path) as handle:
            for line in handle:
                line = line.rstrip("\n")
                if not line:
                    continue
                try:
                    batch.events.append(json.loads(line))
                except json.JSONDecodeError:
                    batch.malformed.append(line)
    return batch


def _key(event: dict) -> tuple[str, int]:
    qualified = event["table"]
    _, pk = TABLES[qualified]
    image = event["before"] if event["op_type"] == "D" else event["after"]
    return qualified, image[pk.upper()]


class Model:
    """Live rows per (table, key), as the last event image that set them."""

    def __init__(self) -> None:
        self.live: dict[tuple[str, int], dict] = {}

    def apply_last_writer_wins(self, batch: Batch) -> int:
        """One batch: per key, the event with the highest ``pos`` decides —
        a D removes the row, an I or U sets it. Returns distinct keys."""
        last: dict[tuple[str, int], dict] = {}
        for event in sorted(batch.events, key=lambda e: e["pos"]):
            last[_key(event)] = event
        for key, event in last.items():
            if event["op_type"] == "D":
                self.live.pop(key, None)
            else:
                self.live[key] = event
        return len(last)

    def apply_hash_chain(self, batch: Batch) -> int:
        """One batch in ``pos`` order with hash-chain validation: U and D
        apply only when their ``before`` equals the live image; a rejected
        D is skipped; with no live row only an I applies, so a D followed
        by an I resurrects the key. Returns distinct keys."""
        images: dict[tuple[str, int], dict] = {}
        for key, event in self.live.items():
            images[key] = event["after"]
        keys = set()
        for event in sorted(batch.events, key=lambda e: e["pos"]):
            key = _key(event)
            keys.add(key)
            live = images.get(key)
            op = event["op_type"]
            if live is None:
                if op == "I":
                    images[key] = event["after"]
                    self.live[key] = event
                continue
            if event.get("before") != live:
                continue
            if op == "D":
                images.pop(key)
                self.live.pop(key)
            else:
                images[key] = event["after"]
                self.live[key] = event
        return len(keys)

    def checksums(self) -> dict[str, tuple[int, int]]:
        """Per target table: (row count, sum of crc32 of the row texts)."""
        out = {table_name(q): (0, 0) for q in TABLES}
        for (qualified, _), event in self.live.items():
            name = table_name(qualified)
            n, total = out[name]
            out[name] = (n + 1, total + zlib.crc32(row_text(qualified, event).encode()))
        return out


def spark_checksum(df, qualified: str) -> tuple[int, int]:
    """The same (count, crc32 sum) over a target table read by Spark."""
    from pyspark.sql import functions as F

    def canon(name: str, kind: str):
        col = F.col(name)
        if kind == "date":
            text = F.date_format(col, "yyyy-MM-dd")
        elif kind == "timestamp":
            text = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        else:
            text = col.cast("string")
        return F.coalesce(text, F.lit(NULL))

    text = F.concat_ws(SEP, *[canon(n, k) for n, k in checksum_columns(qualified)])
    row = df.select(F.crc32(text.cast("binary")).alias("c")).agg(
        F.count("*"), F.coalesce(F.sum("c"), F.lit(0))
    ).first()
    return int(row[0]), int(row[1])

