"""Seeded input generator for the benchmark.

Everything the program reads is written here from one integer seed: the
same seed gives byte-identical files, a different seed different files.
Row counts never depend on the seed, only values do, so timings of two
seeds measure the same amount of work.

Layouts:
  star/<table>.parquet          one TPC-H-ish table set (FIXTURES.md §A)
  hourly/HH/<table>.parquet     24 hourly slices of the same schema;
                                dimensions repeat with light drift,
                                orders/lineitem/events are sliced by hour
  hourly/csv/{delays,weather}/2024/12/25/HH/*.csv
                                the reference's scrape CSVs (FIXTURES §B)
  hourly/expect.json            transform row counts the pipelines must give
  cdc/base.parquet              the upstream table's first image (k, grp, v)
  cdc/ops.json                  the seeded op schedule of the CDC client
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = dt.datetime(2024, 12, 25)
HOURS = 24
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Sizes (NOTES.md, "Sizes", gives the basis and the measurement that the
# per-op figures do not depend on them). One day of hourly slices adds up
# to the repository's sf0.01 harness scale, the scale of its correctness
# gate: an hour carries 1/24 of sf0.01's orders, lineitem and events and the
# whole sf0.01 dimension tables, which the reference reloads every hour.
# The delay scrape of an hour has as many rows as the hour's lineitem (the
# delay fact's role); the weather dump has one row per station of the IMGW
# synoptic network, about sixty.
HOUR = dict(customer=1500, supplier=100, part=2000, orders=625,
            lineitem=2500, events=420, delays=2500, weather_stations=62)
# star_queries reads one whole day at once: sf0.01
STAR = dict(customer=HOUR["customer"], supplier=HOUR["supplier"],
            part=HOUR["part"], orders=HOURS * HOUR["orders"],
            lineitem=HOURS * HOUR["lineitem"], events=HOURS * HOUR["events"])
# cdc_replica's upstream is one day of the fact (sf0.01's lineitem rows),
# an append one hour of it; a write names one of CDC_GROUPS key groups
CDC_ROWS = HOURS * HOUR["lineitem"]
CDC_APPEND = HOUR["lineitem"]
CDC_GROUPS = 100
CDC_OPS = 400
# the client's repeating op pattern: each kind of write once
CDC_PATTERN = ["append", "merge", "delete"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(values, unit):
    return pa.array(values, type=pa.timestamp(unit))


def _dims(rng, n_cust, n_supp, n_part, cust_extra=0, supp_extra=0):
    """region, nation, customer, supplier, part. `*_extra` appends keys
    beyond the base range: the hourly drift."""
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n_cust + cust_extra
    ckeys = np.arange(1, nc + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ckeys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ckeys]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in
                                  rng.integers(0, 5, nc)])})
    ns = n_supp + supp_extra
    skeys = np.arange(1, ns + 1, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": skeys,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in skeys]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    pkeys = np.arange(1, n_part + 1, dtype=np.int64)
    part = pa.table({
        "p_partkey": pkeys,
        "p_name": pa.array([f"part {k}" for k in pkeys]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(11, 56, n_part)]),
        "p_type": pa.array([f"TYPE{t}" for t in rng.integers(0, 30, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)})
    return dict(region=region, nation=nation, customer=customer,
                supplier=supplier, part=part)


def _facts(rng, n_orders, n_line, n_events, n_cust, n_supp, n_part,
           okey0, ekey0, t0_us, span_us):
    """orders, lineitem, events with timestamps in [t0, t0 + span)."""
    okeys = np.arange(okey0, okey0 + n_orders, dtype=np.int64)
    ots = (t0_us + rng.integers(0, span_us, n_orders)) // 1000  # ms
    orders = pa.table({
        "o_orderkey": okeys,
        # every route residue (custkey % 100) appears: the LineDim and
        # DelayFact joins need all 100 routes
        "o_custkey": ((np.arange(n_orders) % 100) + 1 +
                      100 * rng.integers(0, max(1, n_cust // 100),
                                         n_orders)).astype(np.int64),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in
                                   rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(800, 400000, n_orders), 2),
        "o_orderdate": _ts(ots, "ms"),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in
                                     rng.integers(0, 5, n_orders)])})
    l_order = okeys[rng.integers(0, n_orders, n_line)]
    l_order.sort()
    lineno = np.zeros(n_line, dtype=np.int32)
    for i in range(1, n_line):
        lineno[i] = lineno[i - 1] + 1 if l_order[i] == l_order[i - 1] else 0
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, n_part + 1, n_line).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_line).astype(np.int64),
        "l_linenumber": pa.array(lineno + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in
                                  rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in
                                  rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts((t0_us + rng.integers(0, span_us, n_line)) // 1000,
                          "ms")})
    ets = np.sort(t0_us + rng.integers(0, span_us, n_events)) * 1000  # ns
    users = rng.integers(1, 1001, n_events).astype(np.int64)
    events = pa.table({
        "event_id": np.arange(ekey0, ekey0 + n_events, dtype=np.int64),
        "ts": _ts(ets, "ns"),
        "user_id": users,
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.integers(0, 4, n_events)]),
        "value": np.round(rng.normal(0.0, 3.0, n_events), 3),
        "props": pa.array([json.dumps({"k": int(u % 7)}) for u in users])})
    return dict(orders=orders, lineitem=lineitem, events=events)


def _us(t):
    return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def gen_star(out, seed):
    rng = np.random.default_rng([seed, 1])
    tables = _dims(rng, STAR["customer"], STAR["supplier"], STAR["part"])
    tables.update(_facts(rng, STAR["orders"], STAR["lineitem"],
                         STAR["events"], STAR["customer"], STAR["supplier"],
                         STAR["part"], 1, 1, _us(DAY), 24 * 3600 * 10**6))
    for name, t in tables.items():
        _write(t, f"{out}/star/{name}.parquet")


def _delay_csv(rng, hour, n, plant):
    route = rng.integers(0, 100, n)
    veh = [str(v) for v in rng.integers(1, 101, n)]
    mins = rng.integers(0, 30, n)
    early = rng.random(n) < 0.3
    delay = [f"{m} min przed czasem" if e else f"{m} min"
             for m, e in zip(mins, early)]
    stop = rng.integers(0, 50, n)
    t0 = DAY + dt.timedelta(hours=hour)
    ts = [(t0 + dt.timedelta(seconds=int(x))).isoformat()
          for x in rng.integers(0, 3600, n)]
    if plant:
        veh[0] = ""  # the NaN vehicle number (delays.py:45)
        delay[1] = "4 min przed czasem"  # an early delay (delays.py:27-30)
    rows = ["Route,Vehicle No,Stop Name,Delay,Timestamp"]
    rows += [f"R{route[i]},{veh[i]},stop-{stop[i]},{delay[i]},{ts[i]}"
             for i in range(n)]
    return "\n".join(rows) + "\n"


def _weather_csv(rng, hour, stations, plant):
    """One IMGW dump: one row per station for this hour. With `plant`,
    a null temperature (filtered, weather.py:85) and a duplicate
    station-hour (deduped, weather.py:88) ride along. Returns the CSV
    and the number of rows the pipeline must keep."""
    header = ("id_stacji,data_pomiaru,godzina_pomiaru,temperatura,"
              "suma_opadu,predkosc_wiatru,kierunek_wiatru,"
              "wilgotnosc_wzgledna,cisnienie")
    rows = [header]
    for s in stations:
        temp = f"{rng.normal(1.5, 4.0):.1f}"
        rain = "" if rng.random() < 0.2 else f"{rng.uniform(0, 6):.1f}"
        press = "" if rng.random() < 0.2 else f"{rng.uniform(990, 1030):.1f}"
        rows.append(f"{s},2024-12-25,{hour},{temp},{rain},"
                    f"{rng.uniform(0, 15):.1f},{int(rng.integers(0, 360))},"
                    f"{rng.uniform(30, 100):.1f},{press}")
    kept = len(stations)
    if plant:
        rows.append(f"99001,2024-12-25,{hour},,0.0,3.0,90,50.0,1010.0")
        rows.append(f"{stations[0]},2024-12-25,{hour},"
                    f"{rng.normal(1.5, 4.0):.1f},0.0,3.0,90,50.0,1010.0")
    return "\n".join(rows) + "\n", kept


def gen_hourly(out, seed):
    rng = np.random.default_rng([seed, 2])
    expect = {}
    okey, ekey = 1, 1
    stations = [12375] + [12000 + 10 * i for i in range(HOUR["weather_stations"]
                                                        - 1)]
    for h in range(HOURS):
        hd = f"{out}/hourly/{h:02d}"
        # light drift: one new customer and one new supplier per hour
        # (new StopDim/VehicleDim keys), re-drawn balances on the rest
        tables = _dims(rng, HOUR["customer"], HOUR["supplier"], HOUR["part"],
                       cust_extra=h + 1, supp_extra=h + 1)
        t0 = _us(DAY + dt.timedelta(hours=h))
        tables.update(_facts(rng, HOUR["orders"], HOUR["lineitem"],
                             HOUR["events"], HOUR["customer"],
                             HOUR["supplier"] + h + 1, HOUR["part"],
                             okey, ekey, t0, 3600 * 10**6))
        okey += HOUR["orders"]
        ekey += HOUR["events"]
        for name, t in tables.items():
            _write(t, f"{hd}/{name}.parquet")
        ddir = f"{out}/hourly/csv/delays/2024/12/25/{h:02d}"
        wdir = f"{out}/hourly/csv/weather/2024/12/25/{h:02d}"
        os.makedirs(ddir, exist_ok=True)
        os.makedirs(wdir, exist_ok=True)
        half = HOUR["delays"] // 2
        for i, part in enumerate((half, HOUR["delays"] - half)):
            with open(f"{ddir}/delays_{h:02d}_{i}.csv", "w") as f:
                f.write(_delay_csv(rng, h, part, plant=(i == 0)))
        text, kept = _weather_csv(rng, h, stations, plant=True)
        with open(f"{wdir}/weather_{h:02d}.csv", "w") as f:
            f.write(text)
        expect[f"{h:02d}"] = {"delays_rows": HOUR["delays"],
                              "weather_rows": kept}
    with open(f"{out}/hourly/expect.json", "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)


def gen_cdc(out, seed):
    """Upstream first image plus an op schedule. The kinds of write follow
    a fixed pattern, so every seed runs the same mix in the same order;
    the seed picks the groups, deltas and read keys. Each write names a
    key group (k % CDC_GROUPS) and its effect on (k, grp, v) is
    closed-form, so the benchmark keeps its own model of the table."""
    rng = np.random.default_rng([seed, 3])
    k = np.arange(CDC_ROWS, dtype=np.int64)
    base = pa.table({"k": k, "grp": k % CDC_GROUPS,
                     "v": rng.integers(0, 10**6, CDC_ROWS).astype(np.int64)})
    _write(base, f"{out}/cdc/base.parquet")
    ops, next_key = [], CDC_ROWS
    for i in range(CDC_OPS):
        kind = CDC_PATTERN[i % len(CDC_PATTERN)]
        op = {"kind": kind, "grp": int(rng.integers(0, CDC_GROUPS)),
              "delta": int(rng.integers(1, 1000))}
        if kind == "append":
            op["from"] = next_key
            op["n"] = CDC_APPEND
            next_key += CDC_APPEND
        op["point"] = int(rng.integers(0, CDC_ROWS))
        lo = int(rng.integers(0, CDC_ROWS - 500))
        op["range"] = [lo, lo + 500]
        ops.append(op)
    with open(f"{out}/cdc/ops.json", "w") as f:
        json.dump(ops, f, indent=0)


GENERATORS = {"star": gen_star, "hourly": gen_hourly, "cdc": gen_cdc}


def generate(kind, out, seed):
    GENERATORS[kind](out, seed)

