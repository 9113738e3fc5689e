"""Seeded inputs for the benchmark.

Two kinds of input, both written under the benchmark's work directory:

* ``registry_tables(scale)`` — the ten-table TPC-H-style star the query
  registry reads (``region nation customer supplier part orders lineitem
  events documents embeddings``), one parquet file each, with the same
  column names, arrow types and value profiles as the project's test
  data. It is generated once per scale from a FIXED data seed and
  cached, so the DuckDB oracle results computed over it can be cached
  too; the workload seed only reorders queries.

* ``warehouse_feeds(seed, out_dir)`` — the paper pipeline's three raw
  feeds (FIXTURES.md F1-F3): World-Bank population JSON records, a
  UN-crime XLSX with two junk rows above the header, and a
  Eurostat-linear CSV. Every quirk row is planted by construction, and
  the per-table warehouse counts the pipeline must load are tallied
  here in plain Python, alongside the rows that produce them.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
GEN_VERSION = 3

# Fixed universes measured on the project's test data.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "es", "fr", "zh"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

_DAY_US = 86_400 * 1_000_000


def _ts(start: str, offset_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offset_us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(rng: np.random.Generator, low: float, high: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(low * 100), round(high * 100), n) / 100.0, 2)


def _build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_orders = max(1_500, round(1_500_000 * scale))
    n_lines = 4 * n_orders
    n_events = max(1_000, round(100_000 * scale))
    n_users = max(15, round(15_000 * scale))
    n_docs = max(500, round(50_000 * scale))
    n_vecs = max(500, round(20_000 * scale))
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    order_days = 2_403  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_orders),
        "o_totalprice": _money(rng, 1000.0, 499999.99, n_orders),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, order_days, n_orders) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104999.99, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, order_days + 95, n_lines) * _DAY_US),
    })
    # events: ts increases with event_id over a 30-day span (one slot per
    # event plus jitter inside it), value roughly exponential (mean ~50)
    slot = 30 * _DAY_US // n_events
    ev_off = np.arange(n_events, dtype=np.int64) * slot + rng.integers(0, slot, n_events)
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_off),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_docs)]
    # Copies of earlier documents, at the density measured on the
    # project's sf0.01 and sf0.1 test data: 4.8-4.9% of documents are an
    # earlier one with one word appended, 0-0.16% are exact copies, and
    # the MinHash-LSH pair graph has 5.0-5.1 pairs per 100 documents in
    # components of 2-4 documents and diameter 1 (two label-propagation
    # rounds). A copy may copy a copy, which gives the 3- and 4-document
    # components.
    for i in rng.choice(np.arange(1, n_docs), round(n_docs * 0.05), replace=False):
        src = texts[rng.integers(0, i)]
        texts[i] = src if rng.random() < 0.03 else f"{src} {VOCAB[rng.integers(0, len(VOCAB))]}"
    lang = np.where(rng.random(n_docs) < 0.44, "en",
                    np.asarray(LANGS, dtype=object)[rng.integers(0, 4, n_docs)])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(lang.tolist()),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return out


def registry_tables(work: str, scale: float) -> str:
    """Return the directory holding the registry tables at ``scale``,
    generating it on first use (atomic rename, so a killed run never
    leaves a half-written directory behind)."""
    final = os.path.join(work, "data", f"sf{scale:g}-v{GEN_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _build_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, final)
    return final


# --- warehouse feeds --------------------------------------------------

# (eurostat geo, iso3, world-bank display name); Eurostat writes Greece
# as EL and the United Kingdom as UK.
EUROPE = [
    ("AT", "AUT", "Austria"), ("BE", "BEL", "Belgium"), ("BG", "BGR", "Bulgaria"),
    ("HR", "HRV", "Croatia"), ("CY", "CYP", "Cyprus"), ("CZ", "CZE", "Czechia"),
    ("DK", "DNK", "Denmark"), ("EE", "EST", "Estonia"), ("FI", "FIN", "Finland"),
    ("FR", "FRA", "France"), ("DE", "DEU", "Germany"), ("EL", "GRC", "Greece"),
    ("HU", "HUN", "Hungary"), ("IE", "IRL", "Ireland"), ("IT", "ITA", "Italy"),
    ("LV", "LVA", "Latvia"), ("LT", "LTU", "Lithuania"), ("LU", "LUX", "Luxembourg"),
    ("MT", "MLT", "Malta"), ("NL", "NLD", "Netherlands"), ("PL", "POL", "Poland"),
    ("PT", "PRT", "Portugal"), ("RO", "ROU", "Romania"), ("SK", "SVK", "Slovakia"),
    ("SI", "SVN", "Slovenia"), ("ES", "ESP", "Spain"), ("SE", "SWE", "Sweden"),
    ("IS", "ISL", "Iceland"), ("NO", "NOR", "Norway"), ("CH", "CHE", "Switzerland"),
    ("UK", "GBR", "United Kingdom"), ("LI", "LIE", "Liechtenstein"),
]
# countries outside Europe: present in the population feed (so they
# become country rows), dropped from crime by the Region slice
OTHERS = [
    ("USA", "United States"), ("CAN", "Canada"), ("JPN", "Japan"),
    ("BRA", "Brazil"), ("IND", "India"), ("AUS", "Australia"),
    ("MEX", "Mexico"), ("ZAF", "South Africa"), ("KOR", "Korea, Rep."),
    ("ARG", "Argentina"), ("EGY", "Egypt, Arab Rep."), ("NGA", "Nigeria"),
]
YEARS = list(range(2016, 2023))
KEPT_YEARS = [y for y in YEARS if y >= 2018]

EUROSTAT_HEADER = [
    "STRUCTURE", "STRUCTURE_ID", "STRUCTURE_NAME", "freq", "Time frequency",
    "citizen", "Country of citizenship", "agedef", "Age definition", "age",
    "Age class", "unit", "Unit of measure", "sex_code", "Sex", "geo",
    "Geopolitical entity (reporting)", "TIME_PERIOD", "Time", "OBS_VALUE",
    "Observation value", "OBS_FLAG", "Observation status (Flag) V2 structure",
    "CONF_STATUS", "Confidentiality status (flag)",
]
CRIME_HEADER = [
    "Iso3_code", "Country", "Region", "Year", "Category", "Sex", "Age",
    "Indicator", "Unit of measurement", "VALUE",
]


def warehouse_feeds(seed: int, out_dir: str) -> dict:
    """Write the three raw feeds for ``seed`` under ``out_dir`` and
    return their paths together with the planted expectations:
    ``counts`` (rows each warehouse table must hold) and ``viz_rows``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    europe = rng.sample(EUROPE, rng.randint(22, len(EUROPE)))
    others = rng.sample(OTHERS, rng.randint(6, len(OTHERS)))

    # F1 population: one record per (country, year); some countries miss
    # some years; aggregates and malformed records never survive.
    pop_rows, pop_keys = [], set()
    for iso3, name in [(c[1], c[2]) for c in europe] + others:
        styled = rng.choice([name, f"  {name.upper()} ", name.lower()])
        for y in YEARS:
            if rng.random() < 0.1:
                continue
            if rng.random() < 0.05:  # exponent form, as the API sometimes sends
                text = f"{rng.randint(1, 90) / 10:g}e6"
            else:
                text = str(rng.randint(300_000, 90_000_000))
            pop_rows.append({"countryiso3code": iso3, "country": {"id": iso3[:2], "value": styled},
                             "value": text, "year_id": y})
            if y >= 2018:
                pop_keys.add((iso3, y))
    for iso3, name in (("WLD", "World"), ("EUU", "European Union")):
        for y in KEPT_YEARS:
            pop_rows.append({"countryiso3code": iso3, "country": {"id": "1W", "value": name},
                             "value": "7000000000", "year_id": y})
    quirks = [
        ("", "Nowhere", "1000"), ("GR", "Two letters", "1000"), (None, "Null code", "1000"),
        ("ZZA", None, "1000"), ("ZZB", "Garbage", "n/a"), ("ZZC", "Negative", "-5"),
        ("ZZD", "Zero", "0"), ("ZZE", "Null value", None),
    ]
    for code, name, value in quirks:
        country = None if name is None else {"id": "ZZ", "value": name}
        pop_rows.append({"countryiso3code": code, "country": country, "value": value,
                         "year_id": 2020})
    rng.shuffle(pop_rows)
    pop_path = os.path.join(out_dir, "population.json")
    with open(pop_path, "w") as f:
        for row in pop_rows:
            f.write(json.dumps(row) + "\n")
    countries = {iso3 for iso3, _ in pop_keys}

    # F2 crime: the Total/convicted/rate/Europe slice per (country, year)
    # plus rows each of the seven predicates drops.
    crime_rows, crime_keys = [], set()
    for _, iso3, name in europe:
        for y in YEARS:
            value = f"{rng.randint(0, 9000) / 8:g}"  # .125 / .375 ties included
            base = [iso3, rng.choice([name, f" {name.upper()} "]), "Europe", y, "Total",
                    "Total", "Total", "Persons convicted", "Rate per 100,000 population"]
            if y >= 2018:
                if iso3 not in countries:  # no country row to reference
                    continue
                crime_keys.add((iso3, y))
            crime_rows.append(base + [value])
            for col, alt in ((4, "Theft"), (5, "Male"), (6, "Adult"),
                             (7, "Persons prosecuted"), (8, "Count")):
                if rng.random() < 0.5:
                    other = list(base)
                    other[col] = alt
                    crime_rows.append(other + [value])
    for iso3, name in others[:3]:
        crime_rows.append([iso3, name, "Americas", 2020, "Total", "Total", "Total",
                           "Persons convicted", "Rate per 100,000 population", "3.5"])
    for code, value in (("ZZ", "1.0"), (None, "1.0"), ("ZZF", "-2"), ("ZZG", "abc")):
        crime_rows.append([code, "Quirk", "Europe", 2020, "Total", "Total", "Total",
                           "Persons convicted", "Rate per 100,000 population", value])
    rng.shuffle(crime_rows)
    crime_path = os.path.join(out_dir, "crime.xlsx")
    from data_integration_and_visualization_uc3m_spark.sources.xlsx import write_xlsx

    write_xlsx([["UN crime statistics"], ["persons convicted, all offences"],
                CRIME_HEADER] + crime_rows, crime_path)

    # F3 immigration: Eurostat linear rows (repeated across agedef),
    # ':' markers load as 0, garbage and aggregates drop, and years
    # without a population row fall out of the inner join.
    imm_rows, imm_keys = [], set()
    for geo, iso3, _ in europe:
        for y in range(2012, 2023):
            value = rng.choice([str(rng.randint(100, 600_000)), str(rng.randint(100, 600_000)), ":"])
            for agedef in ("COMPLET", "REACH"):
                imm_rows.append((geo, y, value, agedef))
            if (iso3, y) in pop_keys:
                imm_keys.add((iso3, y))
    for geo, y, value in (("EU27_2020", 2020, "1000"), ("", 2020, "5"), ("XX", 2020, "5"),
                          (europe[0][0], 2021, "n.a.")):
        imm_rows.append((geo, y, value, "COMPLET"))
    if (europe[0][1], 2021) in imm_keys:  # the garbage row replaced both agedef rows
        imm_rows = [r for r in imm_rows if not (r[0] == europe[0][0] and r[1] == 2021 and r[2] != "n.a.")]
        imm_keys.discard((europe[0][1], 2021))
    rng.shuffle(imm_rows)
    imm_path = os.path.join(out_dir, "immigration.csv")
    with open(imm_path, "w") as f:
        f.write(",".join(f'"{h}"' if " " in h else h for h in EUROSTAT_HEADER) + "\n")
        for geo, y, value, agedef in imm_rows:
            f.write(f"ESTAT:TPS00176(1.0),dataflow,Immigration,A,Annual,TOTAL,Total,"
                    f"{agedef},{agedef},TOTAL,Total,NR,Number,T,Total,{geo},{geo},"
                    f"{y},{y},{value},{value},,,,\n")

    viz_rows = len({iso3 for iso3, y in imm_keys if (iso3, y) in crime_keys})
    return {
        "population": pop_path,
        "crime": crime_path,
        "immigration": imm_path,
        "counts": {
            "country": len(countries),
            "population": len(pop_keys),
            "crime": len(crime_keys),
            "immigration": len(imm_keys),
            "year": len(KEPT_YEARS),
        },
        "viz_rows": viz_rows,
    }
