"""Seeded input generators for the benchmark.

- `covid_csv`: the paper's COVID daily-deaths CSV with ~4% dirty rows of the
  kinds the engine's CovidTransform rejects, plus the exact counts every ETL
  job must reproduce.
- `lane_fixtures`: the star schema + events + documents the query lanes
  read, shaped like the sf0.1 fixture set: same schemas, row counts and
  value domains, with planted duplicate documents (README.md lists what
  was matched).

Both are pure functions of their seed.
"""
import os

import duckdb
import numpy as np
import pandas as pd

ENTITIES = [f"Country{i:03d}" for i in range(200)]

# Row kinds. Clean kinds survive CovidTransform; the rest are rejected with
# the reason in REJECT_REASON (the transform's precedence: a missing field
# wins over a bad number, which wins over a bad date).
CLEAN = ("plain", "padded_entity", "decimal", "zero", "negative")
REJECT_REASON = {
    "missing_entity": "missing_required_field",
    "missing_day": "missing_required_field",
    "missing_deaths": "missing_required_field",
    "non_numeric": "invalid_numeric",
    "short_month": "invalid_date",
    "us_order": "invalid_date",
    "bad_month": "invalid_date",
}
KIND_SHARE = {
    "plain": 0.80, "padded_entity": 0.03, "decimal": 0.05, "zero": 0.07,
    "negative": 0.01,
    "missing_entity": 0.006, "missing_day": 0.006, "missing_deaths": 0.006,
    "non_numeric": 0.006, "short_month": 0.006, "us_order": 0.005,
    "bad_month": 0.005,
}


def covid_rows(rows: int, seed: int):
    """(lines, expected) for `rows` data rows; lines exclude the header."""
    rng = np.random.default_rng(seed)
    kinds = list(KIND_SHARE)
    p = np.array([KIND_SHARE[k] for k in kinds])
    kind_idx = rng.choice(len(kinds), size=rows, p=p / p.sum())
    ent = rng.integers(0, len(ENTITIES), size=rows)
    day = rng.integers(0, 1000, size=rows)
    deaths = rng.integers(1, 50000, size=rows)
    frac = rng.integers(1, 10, size=rows)
    base = np.datetime64("2020-01-22")
    lines = []
    clean = elt_final = 0
    rejects = {r: 0 for r in sorted(set(REJECT_REASON.values()))}
    for k, e, d, n, f in zip(kind_idx, ent, day, deaths, frac):
        kind = kinds[k]
        entity = ENTITIES[e]
        date = str(base + int(d))
        num = str(int(n))
        if kind == "padded_entity":
            entity = f" {entity} "
        elif kind == "decimal":
            num = f"{int(n)}.{int(f)}"
        elif kind == "zero":
            num = "0"
        elif kind == "negative":
            num = f"-{int(n)}"
        elif kind == "missing_entity":
            entity = ""
        elif kind == "missing_day":
            date = ""
        elif kind == "missing_deaths":
            num = ""
        elif kind == "non_numeric":
            num = "n/a"
        elif kind == "short_month":  # one-digit month, e.g. 2020-3-28
            y, m, dd = date.split("-")
            date = f"{y}-{int(m) % 9 + 1}-{dd}"
        elif kind == "us_order":
            y, m, dd = date.split("-")
            date = f"{m}-{dd}-{y}"
        elif kind == "bad_month":
            date = date[:5] + "13" + date[7:]
        lines.append(f"{entity},{date},{num}")
        if kind in CLEAN:
            clean += 1
        else:
            rejects[REJECT_REASON[kind]] += 1
        # the ELT path keeps any row whose deaths cell is a number > 0
        if num and num != "n/a" and float(num) > 0:
            elt_final += 1
    expected = {"rows": rows, "clean": clean, "elt_final": elt_final,
                "rejects": rejects}
    return lines, expected


def covid_csv(path: str, stream_dir: str, rows: int, seed: int,
              stream_files: int = 8) -> dict:
    """Write the CSV and the same rows split into `stream_files` CSVs."""
    lines, expected = covid_rows(rows, seed)
    header = "entity,Day,total_confirmed_deaths\n"
    with open(path, "w") as f:
        f.write(header + "\n".join(lines) + "\n")
    os.makedirs(stream_dir, exist_ok=True)
    for i in range(stream_files):
        part = lines[i::stream_files]
        with open(os.path.join(stream_dir, f"part-{i}.csv"), "w") as f:
            f.write(header + "\n".join(part) + "\n")
    return expected


# ---------------------------------------------------------------------------
# Lane fixtures
# ---------------------------------------------------------------------------
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    ts = lambda start, n, hi: (np.datetime64(start, "us") +
                               rng.integers(0, hi, size=n).astype("timedelta64[D]"))
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc = (
        15000, 1000, 20000, 150000, 600000, 100000, 5000)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array("blue old red small new large hot cold".split())
    noun = np.array("ring gear bolt plate rod anvil widget gizmo".split())
    keys = np.arange(n_part)
    t["part"] = pd.DataFrame({
        "p_partkey": keys.astype(np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts("1995-01-01", n_ord, 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts("1995-01-02", n_li, 2499)})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, int(n))) for n in rng.integers(10, 101, n_doc)]
    # planted duplicates: 5% near-duplicates (an earlier text + " dup"),
    # and 8 exact copies
    for i in rng.choice(np.arange(1, n_doc), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_doc), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return t


# DuckDB column types per table (timestamps as microsecond TIMESTAMP, the
# fixtures' parquet unit)
_CASTS = {"o_orderdate": "TIMESTAMP", "l_shipdate": "TIMESTAMP", "ts": "TIMESTAMP"}


def lane_fixtures(out_dir: str, seed: int = 42) -> None:
    """Write one single-row-group parquet file per table into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in _tables(seed).items():
        cols = ", ".join(f'CAST("{c}" AS {_CASTS[c]}) AS "{c}"' if c in _CASTS
                         else f'"{c}"' for c in df.columns)
        con.register("df", df)
        con.execute(f"COPY (SELECT {cols} FROM df) TO "
                    f"'{out_dir}/{name}.parquet' "
                    "(FORMAT PARQUET, COMPRESSION SNAPPY, ROW_GROUP_SIZE 1000000)")
        con.unregister("df")
    con.close()
