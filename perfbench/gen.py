"""Load generator: every input the benchmark feeds the program, made from a seed.

    python3 perfbench/gen.py --seed 7 --out <dir> --kind cdc
    python3 perfbench/gen.py --seed 7 --out <dir> --kind tables

Sizes are the constants below, the same for every run of the benchmark.

``cdc`` writes GoldenGate JSON in the FIXTURES.md section 1 form (UPPERCASE
payload fields, dates and timestamps as strings, a 20-digit ``pos``, a
``tokens`` map) for OMS_OWNER.OFFENDERS and OMS_OWNER.OFFENDER_BOOKINGS at
their full section 3/4 widths:

- ``initial/``: the initial load, a multi-file event log: per-key
  histories with an I/U/D mix, deletes whose ``before`` image is stale (the
  hash chain rejects them) and D->I resurrections, ``pos`` interleaved
  across files and shuffled within each, and a trail file of malformed
  lines;
- ``changes/``: numbered change batches over those keys (updates, deletes,
  new keys and D->I resurrections), each batch's ``pos`` range above the
  previous batch's and shuffled within the file.

``tables`` writes TPC-H-like parquet tables plus ``events``, ``documents``
and ``embeddings`` with the schemas of the engine's query registry inputs.

The program reads only these files; the output checks re-read them too.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random

# -- CDC table layouts (FIXTURES.md sections 3 and 4) ---------------------

OFFENDER_COLUMNS = {
    "int": [
        "offender_id", "offender_name_seq", "alias_offender_id",
        "root_offender_id", "parent_offender_id", "age",
    ],
    "date": ["birth_date", "create_date", "suspended_date"],
    "timestamp": ["modify_datetime", "create_datetime", "audit_timestamp"],
    "string": [
        "id_source_code", "last_name", "name_type", "first_name",
        "middle_name", "sex_code", "suffix", "last_name_soundex",
        "birth_place", "birth_country_code", "last_name_key",
        "first_name_key", "middle_name_key", "offender_id_display",
        "caseload_type", "modify_user_id", "alias_name_type",
        "unique_obligation_flag", "suspended_flag", "race_code",
        "remark_code", "add_info_code", "birth_county", "birth_state",
        "middle_name_2", "title", "create_user_id", "last_name_alpha_key",
        "name_sequence", "audit_user_id", "audit_module_name",
        "audit_client_user_id", "audit_client_ip_address",
        "audit_client_workstation_name", "audit_additional_info",
    ],
}

BOOKING_COLUMNS = {
    "int": [
        "offender_book_id", "offender_id", "living_unit_id",
        "finger_printed_staff_id", "search_staff_id", "photo_taking_staff_id",
        "assigned_staff_id", "root_offender_id", "agency_iml_id",
        "case_officer_id", "comm_staff_id", "no_comm_agy_loc_id",
        "total_unexcused_absences", "booking_seq",
    ],
    "date": [
        "booking_begin_date", "booking_end_date", "booking_created_date",
        "activity_date", "case_date", "case_time",
        "intake_agy_loc_assign_date",
    ],
    "timestamp": ["create_datetime", "modify_datetime", "audit_timestamp"],
    "string": [
        "booking_no", "agy_loc_id", "disclosure_flag", "in_out_status",
        "active_flag", "booking_status", "youth_adult_code",
        "create_agy_loc_id", "booking_type", "service_fee_flag",
        "earned_credit_level", "ekstrand_credit_level", "intake_agy_loc_id",
        "intake_caseload_id", "intake_user_id", "community_active_flag",
        "create_intake_agy_loc_id", "comm_status", "community_agy_loc_id",
        "comm_staff_role", "agy_loc_id_list", "status_reason",
        "request_name", "create_user_id", "modify_user_id", "record_user_id",
        "audit_user_id", "audit_module_name", "audit_client_user_id",
        "audit_client_ip_address", "audit_client_workstation_name",
        "audit_additional_info", "admission_reason",
    ],
}

TABLES = {
    # GoldenGate table -> (columns, primary key)
    "OMS_OWNER.OFFENDERS": (OFFENDER_COLUMNS, "offender_id"),
    "OMS_OWNER.OFFENDER_BOOKINGS": (BOOKING_COLUMNS, "offender_book_id"),
}

# Input sizes (README "Inputs"). Each run of the benchmark uses these; a
# faster host or program does not need more input, as a run times a fixed
# number of operations.
INITIAL_KEYS = 2000     # keys per table in the initial load
INITIAL_FILES = 6       # trail files the initial load is spread over
N_MALFORMED = 3         # malformed lines in the initial load's trail
N_BATCHES = 20          # change batches
BATCH_EVENTS = 200      # events per change batch
TABLES_SF = 0.02        # scale of the query-registry tables

# Stable per key, small non-negative integers: the streaming targets are
# partitioned by it, and partition-type inference reads it back as int.
PARTITION_COLUMN = "root_offender_id"
N_PARTITIONS = 4

FIRST = ["PATRICK", "DAVID", "MARY", "ANNE", "JOHN", "SARAH", "OMAR",
         "PRIYA", "LIAM", "CHLOE", "ZOE", "IVAN"]
LAST = ["MURPHY", "MARTIN", "SMITH", "JONES", "KHAN", "PATEL", "BROWN",
        "WILSON", "TAYLOR", "DAVIES", "EVANS", "WALSH"]
WORDS = ["ALPHA", "BRAVO", "DELTA", "ECHO", "FOXTROT", "GOLF", "HOTEL",
         "INDIA", "KILO", "LIMA", "MIKE", "OSCAR"]


class _Clock:
    """Monotone GoldenGate ``pos`` and ``op_ts`` source."""

    def __init__(self, start_pos: int, start_ts: dt.datetime):
        self.pos = start_pos
        self.ts = start_ts

    def tick(self, rng: random.Random) -> tuple[str, str]:
        self.pos += rng.randint(1, 40)
        self.ts += dt.timedelta(microseconds=rng.randint(1, 900_000))
        return f"{self.pos:020d}", self.ts.strftime("%Y-%m-%d %H:%M:%S.%f") + ".3"


def _date(rng: random.Random, lo: int = 1950, hi: int = 2022) -> str:
    day = dt.date(lo, 1, 1) + dt.timedelta(days=rng.randint(0, (hi - lo) * 365))
    return day.strftime("%Y-%m-%d") + " 00:00:00"


def _timestamp(rng: random.Random) -> str:
    moment = dt.datetime(2015, 1, 1) + dt.timedelta(
        seconds=rng.randint(0, 7 * 365 * 86400), microseconds=rng.randint(0, 999_999)
    )
    return moment.strftime("%Y-%m-%d %H:%M:%S.%f") + "000"


def _value(rng: random.Random, kind: str, name: str):
    if rng.random() < 0.08 and name not in ("first_name", "last_name", "in_out_status"):
        return None
    if kind == "int":
        return rng.randint(1, 99_999)
    if kind == "date":
        return _date(rng)
    if kind == "timestamp":
        return _timestamp(rng)
    if name == "first_name":
        return rng.choice(FIRST)
    if name == "last_name":
        return rng.choice(LAST)
    if name == "in_out_status":
        return rng.choice(["IN", "OUT"])
    return f"{rng.choice(WORDS)}-{rng.randint(0, 999)}"


def new_row(rng: random.Random, table: str, key: int, offender_id: int) -> dict:
    """A full source row image, UPPERCASE field names."""
    columns, pk = TABLES[table]
    row = {}
    for kind, names in columns.items():
        for name in names:
            row[name.upper()] = _value(rng, kind, name)
    row[pk.upper()] = key
    row["OFFENDER_ID"] = offender_id
    row[PARTITION_COLUMN.upper()] = offender_id % N_PARTITIONS
    if table.endswith("BOOKINGS") and row["IN_OUT_STATUS"] == "IN":
        row["BOOKING_END_DATE"] = None
    return row


def changed_row(rng: random.Random, table: str, row: dict) -> dict:
    """An update image: a few mutable columns change, keys never do."""
    out = dict(row)
    out["MODIFY_DATETIME"] = _timestamp(rng)
    out["MODIFY_USER_ID"] = f"USER-{rng.randint(0, 999)}"
    if table.endswith("BOOKINGS"):
        out["IN_OUT_STATUS"] = rng.choice(["IN", "OUT"])
        out["BOOKING_END_DATE"] = None if out["IN_OUT_STATUS"] == "IN" else _date(rng, 2000)
    else:
        out["TITLE"] = f"{rng.choice(WORDS)}-{rng.randint(0, 999)}"
        if rng.random() < 0.3:
            out["LAST_NAME"] = rng.choice(LAST)
    return out


def event(clock: _Clock, rng: random.Random, table: str, op: str,
          before: dict | None, after: dict | None) -> dict:
    pos, op_ts = clock.tick(rng)
    out = {
        "table": table,
        "op_type": op,
        "op_ts": op_ts,
        "current_ts": op_ts[:26],
        "pos": pos,
        "tokens": {"R": f"AAD{rng.randint(0, 16**10):010X}"},
    }
    if before is not None:
        out["before"] = before
    if after is not None:
        out["after"] = after
    return out


def key_for(table: str, i: int, n_offenders: int) -> tuple[int, int]:
    """(primary key, offender_id) of the i-th key of ``table``; bookings
    hang off offenders 1..n_offenders."""
    if table.endswith("BOOKINGS"):
        return 100_000 + i, 1 + (i * 7) % n_offenders
    return 1 + i, 1 + i


def initial_log(rng: random.Random, clock: _Clock, keys_per_table: int
                ) -> tuple[list[dict], dict[tuple, dict | None]]:
    """Per-key histories merged into one ``pos`` sequence. Every history
    opens with an I; about half go on with a U, a D (then, for some, a
    resurrecting I) or a delete whose ``before`` image is stale. Returns the
    events and the live image per (table, key, offender_id) as the hash
    chain leaves it (None when deleted)."""
    slots = []
    for table in TABLES:
        for i in range(keys_per_table):
            h = (table, *key_for(table, i, keys_per_table))
            slots.extend([h] * (1 + (rng.random() < 0.5) + 2 * (rng.random() < 0.15)))
    rng.shuffle(slots)
    live: dict[tuple, dict | None] = {}
    out = []
    for h in slots:
        table, key, offender_id = h
        state = live.get(h)
        if state is None:  # first event, or resurrection after a delete
            row = new_row(rng, table, key, offender_id)
            out.append(event(clock, rng, table, "I", None, row))
            live[h] = row
            continue
        roll = rng.random()
        if roll < 0.10:
            stale = changed_row(rng, table, state)
            out.append(event(clock, rng, table, "D", stale, None))
        elif roll < 0.30:
            out.append(event(clock, rng, table, "D", state, None))
            live[h] = None
        else:
            row = changed_row(rng, table, state)
            out.append(event(clock, rng, table, "U", state, row))
            live[h] = row
    return out, live


def malformed_lines(rng: random.Random, events: list[dict], n: int) -> list[str]:
    """Truncated event lines: syntactically broken JSON objects."""
    out = []
    for e in rng.sample(events, n):
        text = json.dumps(e)
        out.append(text[: rng.randint(10, len(text) // 2)])
    return out


def write_lines(path: str, lines: list[str]) -> int:
    with open(path, "w") as handle:
        for line in lines:
            handle.write(line + "\n")
    return len(lines)


def gen_cdc(seed: int, out: str) -> dict:
    rng = random.Random(seed)
    clock = _Clock(50_000_000, dt.datetime(2022, 9, 7, 21, 0, 0))

    # initial load: interleaved across files, shuffled within each file;
    # the malformed lines sit in a trail file of their own
    events, live = initial_log(rng, clock, INITIAL_KEYS)
    files: list[list[str]] = [[] for _ in range(INITIAL_FILES)]
    for e in events:
        files[rng.randrange(INITIAL_FILES)].append(json.dumps(e))
    os.makedirs(os.path.join(out, "initial"))
    for i, lines in enumerate(files):
        rng.shuffle(lines)
        write_lines(os.path.join(out, "initial", f"trail-{i:03d}.json"), lines)
    write_lines(os.path.join(out, "initial", "trail-corrupt.json"),
                malformed_lines(rng, events, N_MALFORMED))

    # change batches over the same keys, each above the previous in pos
    os.makedirs(os.path.join(out, "changes"))
    next_key = {t: INITIAL_KEYS for t in TABLES}
    histories = list(live)
    for b in range(N_BATCHES):
        lines = []
        for _ in range(BATCH_EVENTS):
            roll = rng.random()
            if roll < 0.04:  # brand-new key
                table = rng.choice(list(TABLES))
                key, offender_id = key_for(table, next_key[table], INITIAL_KEYS)
                next_key[table] += 1
                h = (table, key, offender_id)
                histories.append(h)
                live[h] = None
            else:
                h = rng.choice(histories)
            table, key, offender_id = h
            state = live[h]
            if state is None:  # new key, or resurrect a deleted one
                row = new_row(rng, table, key, offender_id)
                lines.append(json.dumps(event(clock, rng, table, "I", None, row)))
                live[h] = row
            elif roll < 0.10:
                lines.append(json.dumps(event(clock, rng, table, "D", state, None)))
                live[h] = None
            else:
                row = changed_row(rng, table, state)
                lines.append(json.dumps(event(clock, rng, table, "U", state, row)))
                live[h] = row
        rng.shuffle(lines)
        write_lines(os.path.join(out, "changes", f"batch-{b:04d}.json"), lines)
    return {"seed": seed, "initial_events": len(events), "batches": N_BATCHES,
            "batch_events": BATCH_EVENTS}


# -- query-registry input tables ------------------------------------------

def gen_tables(seed: int, out: str) -> dict:
    """TPC-H-like star schema + events/documents/embeddings, the column
    names and types the registry's queries read (TESTDATA.md)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    sf = TABLES_SF
    os.makedirs(out)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), int(50_000 * sf), int(50_000 * sf)

    def ts_days(start: str, days: int, n: int) -> "np.ndarray":
        base = np.datetime64(start, "D")
        return (base + g.integers(0, days, n)).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int) -> "np.ndarray":
        return np.round(g.uniform(lo, hi, n), 2)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": regions})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[g.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjectives = ["red", "blue", "hot", "old", "new", "large", "small", "green"]
    nouns = ["bolt", "ring", "plate", "rod", "anvil", "nut", "gear", "pipe"]
    names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[g.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[g.integers(0, 25, n_part)],
        "p_type": ptypes[g.integers(0, 6, n_part)],
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": ts_days("1995-01-01", 2404, n_ord),
        "o_orderpriority": priorities[g.integers(0, 5, n_ord)],
    })
    write("lineitem", {
        "l_orderkey": g.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": g.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": g.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
        "l_shipdate": ts_days("1995-01-02", 2499, n_line),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + g.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": g.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
    # Exactly 4% near-duplicates, each a copy of an earlier original plus
    # " dup". The dedup queries prune tokens found in more than 100 docs
    # (max_df), and "dup" sits in twice as many docs once the query adds its
    # shifted copy: a fixed 4% keeps it under that cut for every seed, and
    # copying only originals keeps duplicate groups one hop wide.
    dup_at = set(g.choice(np.arange(11, n_docs), n_docs // 25, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i in dup_at:
            texts.append(texts[originals[int(g.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(g.choice(vocab, int(g.integers(10, 100)))))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[g.integers(0, 5, n_docs)],
        "source": [f"src{k}" for k in g.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = g.integers(0, 10, n_vec)
    centres = g.normal(0, 1, (10, 64))
    vecs = centres[labels] + g.normal(0, 0.8, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {"seed": seed, "sf": sf, "lineitem_rows": n_line}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to create")
    ap.add_argument("--kind", choices=["cdc", "tables"], required=True)
    args = ap.parse_args()
    if args.kind == "cdc":
        os.makedirs(args.out)
        manifest = gen_cdc(args.seed, args.out)
    else:
        manifest = gen_tables(args.seed, args.out)
    with open(os.path.join(args.out, "manifest.json"), "w") as handle:
        json.dump(manifest, handle)


if __name__ == "__main__":
    main()
