"""Seeded input generators for the graft benchmark.

Every input a workload reads is made here from the benchmark seed; the
engine only ever sees the files written. The same seed gives
byte-identical files (DuckDB and pyarrow run single-threaded with fixed
row order), and `run.py` checks that, and that another seed differs.

  analytics        TPC-H-like star schema plus `events` and `documents`
                   at sf0.1 shape, and a ragged EV CSV for the dashboard
  corpus_dedup     a document corpus with planted near-duplicate clusters
                   and a few oversized exact-copy clusters
  ingest_maintain  an initial store corpus plus batches of ragged EV CSV
                   and documents that near-duplicate stored ones
"""
import json
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# --- analytics ---------------------------------------------------------------
SF_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
           "orders": 150000, "lineitem": 600000, "events": 100000,
           "documents": 5000}
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
DASH_EV_ROWS = 20000

# --- corpus_dedup ------------------------------------------------------------
CORPUS_DOCS = 4000         # total documents in the corpus
PLANT_SHARE = 0.25         # share of docs that belong to a planted cluster
OVERSIZED = (2, 240)       # clusters x copies; copies exceed maxBucket=200

# --- ingest_maintain ---------------------------------------------------------
STORE_DOCS = 1000          # documents staged into every store at setup
BATCHES = 2                # batches per round; every round ends equal
BATCH_DOCS = 120
BATCH_EV_ROWS = 400
NEAR_SHARE = 0.2           # batch docs that near-duplicate stored docs

CITIES = ["SEATTLE", "BELLEVUE", "REDMOND", "KIRKLAND", "TACOMA", "OLYMPIA",
          "SPOKANE", "VANCOUVER", "RENTON", "KENT", "BOTHELL", "SAMMAMISH",
          "ISSAQUAH", "EVERETT", "LYNNWOOD", "SHORELINE", "YAKIMA", "BELLINGHAM"]
MAKES = ["TESLA", "NISSAN", "CHEVROLET", "BMW", "FORD", "KIA", "TOYOTA",
         "AUDI", "VOLVO", "HYUNDAI", "RIVIAN", "JEEP"]
MODELS = ["MODEL 3", "MODEL Y", "LEAF", "BOLT EV", "I3", "MUSTANG MACH-E",
          "NIRO", "PRIUS PRIME", "E-TRON", "XC90", "IONIQ 5", "R1T"]
VTYPES = ["Battery Electric Vehicle (BEV)",
          "Plug-in Hybrid Electric Vehicle (PHEV)"]
ELIG = ["Clean Alternative Fuel Vehicle Eligible",
        "Not eligible due to low battery range",
        "Eligibility unknown as battery range has not been researched"]
UTILS = ["PUGET SOUND ENERGY INC", "CITY OF SEATTLE - (WA)",
         "PUGET SOUND ENERGY INC||CITY OF TACOMA - (WA)",
         "BONNEVILLE POWER ADMINISTRATION||AVISTA CORP",
         "PACIFICORP", "CITY OF TACOMA - (WA)|PENINSULA LIGHT COMPANY"]
JUNK = ["", ")", "0", "5YJ3E1EA", "nan"]


def _vocab(n):
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    return [syl[i % 70] + syl[(i // 70) % 70] + syl[(i // 4900) % 70]
            for i in range(n)]


WORDS = _vocab(20000)


def _con():
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET preserve_insertion_order=true")
    con.execute("SET enable_progress_bar=false")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def gen_tables(seed, out):
    """The analytics star schema. Value domains mirror the shapes the
    registered queries and their DuckDB oracles were written against."""
    con = _con()
    s = int(seed)

    def u(*parts):  # uniform integer from the seed and a row key
        return f"hash({', '.join(map(str, parts))}, {s})"
    _copy(con, "SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'), "
          "(2, 'ASIA'), (3, 'EUROPE'), (4, 'MIDDLE EAST')) "
          "t(r_regionkey, r_name)", f"{out}/region.parquet")
    _copy(con, "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
          "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
          f"{out}/nation.parquet")
    _copy(con, f"""SELECT i AS c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        ({u('i', 1)} % 25)::INTEGER AS c_nationkey,
        round(-999.99 + ({u('i', 2)} % 1099980) / 100.0, 2) AS c_acctbal,
        (['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
          'MACHINERY'])[1 + ({u('i', 3)} % 5)::BIGINT] AS c_mktsegment
        FROM range({SF_ROWS['customer']}) t(i)""", f"{out}/customer.parquet")
    _copy(con, f"""SELECT i AS s_suppkey,
        'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        ({u('i', 4)} % 25)::INTEGER AS s_nationkey,
        round(-999.99 + ({u('i', 5)} % 1099980) / 100.0, 2) AS s_acctbal
        FROM range({SF_ROWS['supplier']}) t(i)""", f"{out}/supplier.parquet")
    _copy(con, f"""SELECT i AS p_partkey,
        (['blue', 'old', 'red', 'small', 'new', 'large', 'hot', 'cold'])
          [1 + ({u('i', 6)} % 8)::BIGINT] || ' ' ||
        (['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod', 'anvil'])
          [1 + ({u('i', 7)} % 8)::BIGINT] AS p_name,
        'Brand#' || (1 + {u('i', 8)} % 25) AS p_brand,
        (['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])
          [1 + ({u('i', 9)} % 6)::BIGINT] AS p_type,
        (1 + {u('i', 10)} % 50)::INTEGER AS p_size,
        900.0 + (i % 1000) / 10.0 AS p_retailprice
        FROM range({SF_ROWS['part']}) t(i)""", f"{out}/part.parquet")
    _copy(con, f"""SELECT i AS o_orderkey,
        ({u('i', 11)} % {SF_ROWS['customer']})::BIGINT AS o_custkey,
        (['F', 'O', 'P'])[1 + ({u('i', 12)} % 3)::BIGINT] AS o_orderstatus,
        round(1000.0 + ({u('i', 13)} % 49900000) / 100.0, 2) AS o_totalprice,
        (TIMESTAMP '1995-01-01' + to_days(({u('i', 14)} % 2405)::INTEGER))
          AS o_orderdate,
        (['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])
          [1 + ({u('i', 15)} % 5)::BIGINT] AS o_orderpriority
        FROM range({SF_ROWS['orders']}) t(i)""", f"{out}/orders.parquet")
    # two hashes per row; fields take disjoint bit ranges of them
    _copy(con, f"""SELECT
        (a % {SF_ROWS['orders']})::BIGINT AS l_orderkey,
        ((a >> 20) % {SF_ROWS['part']})::BIGINT AS l_partkey,
        ((a >> 40) % {SF_ROWS['supplier']})::BIGINT AS l_suppkey,
        (1 + (a >> 52) % 7)::INTEGER AS l_linenumber,
        (1 + (a >> 56) % 50)::DOUBLE AS l_quantity,
        round(900.0 + (b % 10409923) / 100.0, 2) AS l_extendedprice,
        ((b >> 24) % 11) / 100.0 AS l_discount,
        ((b >> 28) % 9) / 100.0 AS l_tax,
        (['A', 'N', 'R'])[1 + ((b >> 32) % 3)::BIGINT] AS l_returnflag,
        (['F', 'O'])[1 + ((b >> 36) % 2)::BIGINT] AS l_linestatus,
        (TIMESTAMP '1995-01-02' + to_days(((b >> 40) % 2499)::INTEGER))
          AS l_shipdate
        FROM (SELECT {u('i', 16)} AS a, {u('i', 17)} AS b
              FROM range({SF_ROWS['lineitem']}) t(i))""",
          f"{out}/lineitem.parquet")
    # ts rises with event_id, as in a real event log
    _copy(con, f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(
          (i * 25920000 + {u('i', 27)} % 25920000)::BIGINT) AS ts,
        ({u('i', 28)} % 1500)::BIGINT AS user_id,
        (['click', 'error', 'purchase', 'signup', 'view'])
          [1 + ({u('i', 29)} % 5)::BIGINT] AS event_type,
        round(({u('i', 30)} % 56021) / 100.0, 2) AS value,
        '{{"k": ' || ({u('i', 31)} % 100) || '}}' AS props
        FROM range({SF_ROWS['events']}) t(i)""", f"{out}/events.parquet")
    vocab = "[" + ", ".join(f"'{w}'" for w in DOC_VOCAB) + "]"
    _copy(con, f"""SELECT doc_id, text, lang, source,
        length(text)::BIGINT AS n_chars FROM (SELECT i AS doc_id,
        array_to_string(list_transform(
          range((10 + {u('i', 32)} % 91)::BIGINT),
          j -> ({vocab})[1 + (hash(i, j, {s}) % {len(DOC_VOCAB)})::BIGINT]),
          ' ') AS text,
        (['de', 'en', 'es', 'fr', 'zh'])[1 + ({u('i', 33)} % 5)::BIGINT]
          AS lang,
        'src' || ({u('i', 34)} % 20) AS source
        FROM range({SF_ROWS['documents']}) t(i))""",
          f"{out}/documents.parquet")
    con.close()


# --- EV CSV --------------------------------------------------------------------
def _vin(rng):
    return "".join(rng.choice("0123456789ABCDEFGHJKLMNPRSTUVWXYZ")
                   for _ in range(10))


def _ev_line(rng, vin):
    """One headerless, ragged EV row with the FIXTURES.md pathologies."""
    city = rng.choice(CITIES)
    year = str(rng.randint(2015, 2025))
    make, model = rng.choice(MAKES), rng.choice(MODELS)
    lon = round(rng.uniform(-124.5, -117.0), 5)
    lat = round(rng.uniform(45.6, 49.0), 5)
    loc = f"POINT ({lon} {lat})"
    r = rng.random()
    if r < 0.03:
        year = "N/A"
    elif r < 0.06:
        make = rng.choice(["nan", "None", "  "])
    elif r < 0.08:
        city = ""                      # dropped by the clean pipeline
    elif r < 0.10:
        loc = f"POINT ( {lon}  {lat} )"
    elif r < 0.12:
        loc = "garbage"
    fields = [vin, city, year, make, model, rng.choice(VTYPES),
              rng.choice(ELIG), str(rng.choice([0, 0, 21, 84, 150, 215, 308])),
              str(rng.randint(1000000, 479999999)), f'"{loc}"',
              rng.choice(UTILS)]
    fields += [rng.choice(JUNK) for _ in range(rng.randint(2, 5))]
    return ",".join(fields)


def ev_csv(rng, n, vins, repeat_share):
    """n rows; a share of them re-use VINs from `vins` (updates). A VIN
    appears at most once per file except as an exact duplicate line, so
    upsert precedence never depends on row order within a batch."""
    lines, used = [], set()
    for _ in range(n):
        if vins and rng.random() < repeat_share:
            vin = rng.choice(vins)
            if vin in used:
                continue
        else:
            vin = _vin(rng)
        used.add(vin)
        line = _ev_line(rng, vin)
        lines.append(line)
        if rng.random() < 0.02:
            lines.append(line)         # exact duplicate row
    if rng.random() < 0.5 or not lines:
        lines.append(",".join([""] * 11))  # an all-empty row
    return "\n".join(lines) + "\n", sorted(used)


def _write_text(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


# --- documents -----------------------------------------------------------------
def _doc(rng):
    n = rng.randint(30, 90)
    # mildly skewed word frequencies: low-index words are more common
    return " ".join(WORDS[int(len(WORDS) * rng.random() ** 1.5)]
                    for _ in range(n))


def _near(rng, text):
    """A near-duplicate: one token replaced (token-set Jaccard >= 0.9 for
    the document lengths made here) or an exact copy."""
    toks = text.split(" ")
    if rng.random() < 0.5:
        toks[rng.randrange(len(toks))] = WORDS[rng.randrange(len(WORDS))]
    return " ".join(toks)


def _write_docs(path, ids, texts):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


def gen_corpus(seed, out):
    rng = random.Random(f"corpus-{seed}")
    ids, texts, clusters = [], [], []
    n_plain = int(CORPUS_DOCS * (1 - PLANT_SHARE))
    for _ in range(n_plain):
        ids.append(len(ids))
        texts.append(_doc(rng))
    while len(ids) < CORPUS_DOCS - OVERSIZED[0] * OVERSIZED[1]:
        base = _doc(rng)
        members = []
        for j in range(rng.randint(2, 4)):
            members.append(len(ids))
            ids.append(len(ids))
            texts.append(base if j == 0 else _near(rng, base))
        clusters.append(members)
    oversized = []
    for _ in range(OVERSIZED[0]):
        base = _doc(rng)
        members = []
        for _ in range(OVERSIZED[1]):
            members.append(len(ids))
            ids.append(len(ids))
            texts.append(base)
        oversized.append(members)
    # shuffle ids so clusters do not sit in one partition
    perm = list(range(len(ids)))
    rng.shuffle(perm)
    remap = {old: new for new, old in enumerate(perm)}
    texts = [texts[old] for old in perm]
    _write_docs(f"{out}/corpus.parquet", list(range(len(texts))), texts)
    planted = {"clusters": [sorted(remap[i] for i in c) for c in clusters],
               "oversized": [sorted(remap[i] for i in c) for c in oversized]}
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f, sort_keys=True)


def gen_ingest(seed, out):
    rng = random.Random(f"ingest-{seed}")
    texts = [_doc(rng) for _ in range(STORE_DOCS)]
    _write_docs(f"{out}/store_docs.parquet", list(range(STORE_DOCS)), texts)
    csv, vins = ev_csv(rng, BATCH_EV_ROWS * 2, [], 0.0)
    _write_text(f"{out}/ev_base.csv", csv)
    next_id = STORE_DOCS
    planted = []                       # (batch doc id, stored doc id)
    for b in range(BATCHES):
        csv, used = ev_csv(rng, BATCH_EV_ROWS, vins, 0.3)
        vins = sorted(set(vins) | set(used))
        _write_text(f"{out}/ev_batch_{b}.csv", csv)
        bt = []
        for _ in range(BATCH_DOCS):
            if rng.random() < NEAR_SHARE:
                src = rng.randrange(len(texts))
                planted.append([next_id + len(bt), src])
                bt.append(_near(rng, texts[src]))
            else:
                bt.append(_doc(rng))
        _write_docs(f"{out}/docs_batch_{b}.parquet",
                    list(range(next_id, next_id + BATCH_DOCS)), bt)
        texts += bt
        next_id += BATCH_DOCS
    with open(f"{out}/planted.json", "w") as f:
        json.dump({"pairs": planted}, f, sort_keys=True)


def gen_analytics(seed, out):
    gen_tables(seed, out)
    rng = random.Random(f"dash-{seed}")
    csv, _ = ev_csv(rng, DASH_EV_ROWS, [], 0.0)
    _write_text(f"{out}/ev_dashboard.csv", csv)


GENERATORS = {"analytics": gen_analytics, "corpus_dedup": gen_corpus,
              "ingest_maintain": gen_ingest}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)
