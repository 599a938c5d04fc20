"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` writes the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that every registry query reads
  (one single-row-group parquet file per table, the layout
  ``graft.Tables`` expects). Column types and value distributions follow
  the repository's test data description (TESTDATA.md), scaled by
  ``sf``.
* ``youbike_ticks`` builds a run of YouBike API snapshots (one JSON
  record per station) with planted ground truth for ``EtlJob.runOnce``:
  replayed ``(sno, srcUpdateTime)`` rows, stations that first appear
  mid-run, malformed numeric fields the lenient cast must turn into
  null, and Taipei-local update times the job shifts to UTC.
"""
import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "plate", "rod", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.5, 0.15, 0.12, 0.1, 0.13]

DAY_US = 86_400_000_000


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n, start, end):
    """Midnight timestamps (µs, naive) uniform over [start, end]."""
    lo, hi = _epoch_us(*start) // DAY_US, _epoch_us(*end) // DAY_US
    return rng.integers(lo, hi + 1, n) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    # no time zone: parquet isAdjustedToUTC=false, read by Spark as a
    # session-local TIMESTAMP (see graft.Tables.ensureReadConfs)
    return pa.array(values_us, pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed: int, sf: float) -> dict:
    """All ten tables as pyarrow Tables, deterministic in (seed, sf)."""
    rng = np.random.default_rng([seed, 1])
    # row counts of the repository's test data at the same sf (TESTDATA.md:
    # lineitem ~6,000 at sf0.001, ~60,000 at sf0.01, ~600,000 at sf0.1)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), min(2000, max(500, int(20000 * sf)))
    nk = np.arange(25)
    t = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(nk, pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in nk]),
                            "n_regionkey": pa.array(nk % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
            "l_shipdate": _ts(_days(rng, n_line, (1995, 1, 2), (2001, 11, 4)))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(_epoch_us(2024, 1, 1)
                              + rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return t


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet", row_group_size=1 << 30)


# ---- YouBike snapshots ---------------------------------------------------

DISTRICTS = ["中正區", "大同區", "中山區", "松山區", "大安區", "萬華區", "信義區",
             "士林區", "北投區", "內湖區", "南港區", "文山區", "臺大公館校區"]
TICK_S = 600  # the service polls the API every 10 minutes
TAIPEI_UTC_OFFSET_S = 8 * 3600
BASE_LOCAL = dt.datetime(2025, 12, 10, 6, 0, 0)  # Asia/Taipei wall clock
MALFORMED = ["N/A", "", "--"]
LENIENT_FIELDS = ["Quantity", "available_rent_bikes", "available_return_bikes"]


def youbike_ticks(seed: int, n_ticks: int, n_stations: int = 1500):
    """Return ``(ticks, truth)``.

    ``ticks[i]`` is the list of JSON record strings the API returns at
    tick ``i``. ``truth["ticks"][i]`` holds the ``BatchResult`` the job
    must report for it (distinct ``(sno, srcUpdateTime)`` facts,
    never-seen stations) and what the tick adds to the warehouse: null
    counts from malformed fields and the UTC range of its record times.

    Each station's ``srcUpdateTime`` moves forward every tick by a
    station-specific offset inside the 10-minute window, so keys never
    repeat across ticks; replays are planted inside a tick, the way the
    API repeats a station row within one response.
    """
    rng = np.random.default_rng([seed, 2])
    stations = []

    def add_station():
        i = len(stations)
        stations.append({
            "sno": f"5001{i:05d}",
            "sna": f"YouBike2.0_站{i:05d}",
            "sarea": DISTRICTS[int(rng.integers(0, len(DISTRICTS)))],
            "latitude": round(float(rng.uniform(24.96, 25.21)), 6),
            "longitude": round(float(rng.uniform(121.45, 121.66)), 6),
            "Quantity": int(rng.integers(10, 61)),
            "offset_s": int(rng.integers(0, TICK_S)),
        })

    for _ in range(n_stations):
        add_station()

    seen = set()
    ticks, per_tick = [], []
    for t in range(n_ticks):
        if t > 0:  # new stations come online mid-run
            for _ in range(int(rng.integers(1, 4))):
                add_station()
        n = len(stations)
        rents = rng.integers(0, np.array([s["Quantity"] for s in stations]) + 1)
        bad = rng.random(n) < 0.01
        bad_field = rng.integers(0, 3, n)
        bad_text = rng.integers(0, len(MALFORMED), n)
        replay = rng.random(n) < 0.02  # the API repeats these rows
        records, keys, times = [], set(), []
        tick = {"dims": 0, "null_bikes": 0, "null_spaces": 0, "null_total_spaces": 0}
        for i, s in enumerate(stations):
            local = BASE_LOCAL + dt.timedelta(seconds=t * TICK_S + s["offset_s"])
            cap, rent = s["Quantity"], int(rents[i])
            rec = {"sno": s["sno"], "sna": s["sna"], "sarea": s["sarea"],
                   "latitude": s["latitude"], "longitude": s["longitude"],
                   "Quantity": cap, "available_rent_bikes": rent,
                   "available_return_bikes": cap - rent,
                   "srcUpdateTime": local.strftime("%Y-%m-%d %H:%M:%S")}
            if bad[i]:
                rec[LENIENT_FIELDS[bad_field[i]]] = MALFORMED[bad_text[i]]
            line = json.dumps(rec, ensure_ascii=False)
            records.append(line)
            if replay[i]:
                records.append(line)
            keys.add((s["sno"], rec["srcUpdateTime"]))
            times.append(local - dt.timedelta(seconds=TAIPEI_UTC_OFFSET_S))
            tick["null_bikes"] += isinstance(rec["available_rent_bikes"], str)
            tick["null_spaces"] += isinstance(rec["available_return_bikes"], str)
            if s["sno"] not in seen:
                seen.add(s["sno"])
                tick["dims"] += 1
                tick["null_total_spaces"] += isinstance(rec["Quantity"], str)
        tick.update(facts=len(keys), replayed=len(records) - len(keys),
                    min_utc=min(times).strftime("%Y-%m-%d %H:%M:%S"),
                    max_utc=max(times).strftime("%Y-%m-%d %H:%M:%S"))
        ticks.append(records)
        per_tick.append(tick)
    return ticks, {"ticks": per_tick}


def write_ticks(out_dir: Path, seed: int, n_ticks: int) -> dict:
    """Write ``tick-NNNN.jsonl`` files plus ``truth.json``; return the truth."""
    out_dir.mkdir(parents=True, exist_ok=True)
    ticks, truth = youbike_ticks(seed, n_ticks)
    for i, recs in enumerate(ticks):
        (out_dir / f"tick-{i:04d}.jsonl").write_text("\n".join(recs) + "\n", encoding="utf-8")
    (out_dir / "truth.json").write_text(json.dumps(truth, indent=1), encoding="utf-8")
    return truth
