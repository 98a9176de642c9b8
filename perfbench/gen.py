"""Seeded input generator.

Writes parquet tables with the physical schema, row counts and value
domains of the graft test data (TPC-H-like star schema plus `events`,
`documents` and `embeddings`), so every query of `SparkEntry` runs on them
unchanged, and the ELT chain's landing CSVs derived from the same
`lineitem` and `orders`. The same seed gives byte-identical files: every
value comes from one `numpy.random.Generator` per table, and parquet and
CSV are written with fixed writer options.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# Row counts at scale factor 1; the test data's sf0.1 directory is 0.1 x these.
ROWS_SF1 = {"supplier": 10_000, "customer": 150_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
            "documents": 50_000, "embeddings": 20_000}
USERS_SF1 = 15_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

EPOCH_DAY_US = 86_400_000_000
D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


# `PipelineQ.feed`'s value lists: every transform, size and quality-rule
# branch of the chain is hit by some row
ITEM_NAMES = ["Iced Coffee (12oz)", "Hot Espresso 16 oz", "Alltown Fresh's Turkey Sandwich",
              "The Veggie Burger", "Harvest Bowl", "Caesar Salad 8oz",
              "Energy Boost Red Bull 250ml", "Coca Cola 2 liter", "Spring Water 1L",
              "Orange Juice half gallon", "Test Item Do Not Buy", "Choc Chip Cookies 2 pack",
              "Ginger Kombucha 16oz", "Drip C*offee", "Breakfast Burrito", "BBQ Side Platter",
              "Kid's Meal Box", "Vegan Wrap", "Meal Prep Box 5 count", "Fresh Lemonade 32 oz"]
ITEM_CATS = ["Breakfast", "Hot  Bowls", "Drip_Coffee", "Burgers & Sandwiches",
             "Candy Dark Chocolate", "Menu `Specials` http://x.io/c", "Test Items", "Plates",
             "Specialty Coffee Beverages", "Gluten-Free", "Sides", "Drinks", "Entrees",
             "Vegetarian Options", "Sqalads", "Sandwiches1", "Tobacco", "Cold Brew", "Kid's",
             "Espresso  Bar"]
OPT_GROUPS = ["add-ons", "sauces", "sides", "discounts"]
OPT_NAMES = ["extra cheese", "ranch", "bbq sauce", "avocado", "fries upgrade",
             "member discount"]
LANDING_PARTS = 4


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _rng(seed, name):
    # one independent stream per table, so adding a table never shifts another
    return np.random.default_rng([seed, sum(name.encode())])


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def nation():
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": k % 5})


def supplier(seed, n):
    r = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n)})


def customer(seed, n):
    r = _rng(seed, "customer")
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})


def part(seed, n):
    r = _rng(seed, "part")
    k = np.arange(n, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n)], " "),
                        np.array(PART_NOUN)[r.integers(0, 8, n)])
    return pa.table({
        "p_partkey": k, "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n)],
        "p_size": r.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})


def orders(seed, n, n_cust):
    r = _rng(seed, "orders")
    days = r.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(D1995 + days * EPOCH_DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})


def lineitem(seed, n, n_ord, n_part, n_supp):
    r = _rng(seed, "lineitem")
    days = r.integers(1, 2500, n)  # 1995-01-02 .. 2001-11-04
    return pa.table({
        "l_orderkey": r.integers(0, n_ord, n, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": np.round(r.uniform(0.0, 0.1, n), 2),
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _ts(D1995 + days * EPOCH_DAY_US)})


def events(seed, n, n_users, name="events"):
    """Event stream with strictly increasing `ts` in `event_id` order."""
    r = _rng(seed, name)
    mean_gap = 30 * EPOCH_DAY_US // n  # n events spread over 30 days
    ts = D2024 + np.cumsum(r.integers(1, 2 * mean_gap, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": r.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}")})


def documents(seed, n):
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        u = r.random()
        if i > 20 and u < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 20 and u < 0.052:  # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(seed, n, dim=64):
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
                                   pa.array(v.reshape(-1), pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
                     "label": r.integers(0, 10, n, dtype=np.int32)})


def tables(out, seed, sf=0.1):
    """Write the ten tables as `<out>/<name>.parquet`."""
    os.makedirs(out, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in ROWS_SF1.items()}
    users = max(1, int(USERS_SF1 * sf))
    built = {
        "region": region(), "nation": nation(),
        "supplier": supplier(seed, n["supplier"]),
        "customer": customer(seed, n["customer"]),
        "part": part(seed, n["part"]),
        "orders": orders(seed, n["orders"], n["customer"]),
        "lineitem": lineitem(seed, n["lineitem"], n["orders"], n["part"], n["supplier"]),
        "events": events(seed, n["events"], users),
        "documents": documents(seed, n["documents"]),
        "embeddings": embeddings(seed, n["embeddings"])}
    for name, t in built.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {k: t.num_rows for k, t in built.items()}


def event_parts(out, seed, rows, files, users=1500):
    """Write `<out>/events.parquet/` as `files` part files of consecutive
    events, with modification times one second apart in event order so a
    file-stream source takes them in the same order on every run."""
    d = os.path.join(out, "events.parquet")
    os.makedirs(d, exist_ok=True)
    t = events(seed, rows - 1, users, name="stream")
    # a last event a day after the rest: the watermark then passes every
    # other open session, so a closed-session drain emits all of them
    last = t.slice(rows - 2, 1).to_pydict()
    last["event_id"][0] += 1
    last["ts"][0] += datetime.timedelta(days=1)
    t = pa.concat_tables([t, pa.table(last, schema=t.schema)])
    per = rows // files
    for i in range(files):
        p = os.path.join(d, f"part-{i:05d}.parquet")
        _write(t.slice(i * per, per if i < files - 1 else rows - i * per), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return rows


def _cases(otherwise, cases):
    """`CASE WHEN` over numpy arrays: the first true condition wins; a None
    value is SQL NULL. Returns (values, null mask)."""
    v = np.array(otherwise, dtype=object)
    null = np.zeros(len(v), dtype=bool)
    for cond, val in reversed(cases):
        v = np.where(cond, val, v)
        null = np.where(cond, val is None, null)
    return v, null


def _str(x, width=0):
    """Decimal strings of an integer array (zero-padded to `width`), as an
    object array so `+` concatenates."""
    s = np.asarray(x).astype(str)
    return (np.char.zfill(s, width) if width else s).astype(object)


def _write_csv(table, d):
    """A landing table as `LANDING_PARTS` CSV part files with a header."""
    os.makedirs(d, exist_ok=True)
    per = -(-table.num_rows // LANDING_PARTS)
    for i in range(LANDING_PARTS):
        pcsv.write_csv(table.slice(i * per, per), os.path.join(d, f"part-{i:05d}.csv"))


def landing_csvs(out, seed, sf=0.01):
    """Write the ELT chain's landing CSVs under `<out>/`: `order_items` from
    `lineitem` joined with `orders`, `order_item_options` and `date_dim`, with
    the columns, row counts and dirty-value mix of `PipelineQ.feed`,
    `options` and `dateDim`. Returns the three tables' row counts."""
    n = {k: max(1, int(v * sf)) for k, v in ROWS_SF1.items()}
    li = lineitem(seed, n["lineitem"], n["orders"], n["part"], n["supplier"])
    od = orders(seed, n["orders"], n["customer"])
    ok, pk, sk = (li[c].to_numpy() for c in ("l_orderkey", "l_partkey", "l_suppkey"))
    ln = li["l_linenumber"].to_numpy().astype(np.int64)
    # o_orderkey is the row index, and every l_orderkey names an order
    cust = od["o_custkey"].to_numpy()[ok]
    odate = od["o_orderdate"].to_numpy().astype("datetime64[D]")
    day = odate[ok]

    def col(values, null=None, typ=pa.string()):
        return pa.array(list(values), type=typ, mask=null)

    lineitem_id = _str(ok * 10 + ln) + "-" + _str(pk) + "-" + _str(sk)
    price, price_null = _cases((pk % 9400 + 101) / 100.0, [
        (ok % 37 == 0, None), (ok % 31 == 0, 0.0), (ok % 29 == 0, 1.0),
        (ok % 23 == 0, 0.5), (ok % 19 == 0, 150.25)])
    qty, qty_null = _cases(pk % 9 + 2, [
        (ok % 41 == 0, None), (ok % 43 == 0, 0), (ok % 47 == 0, 1), (ok % 53 == 0, 48)])
    clock = " " + _str(ok % 24, 2) + ":" + _str(pk % 60, 2) + ":" + _str(sk % 60, 2)
    items = pa.table({
        "order_id": col(_str(ok)),
        "lineitem_id": col(lineitem_id),
        "restaurant_id": col("r" + _str(sk % 20)),
        "user_id": col(_str(cust), cust % 11 == 0),
        "printed_card_number": col(_str(pk % 90000 + 10000), pk % 7 == 0),
        "is_loyalty": pa.array(cust % 3 == 0),
        "item_name": col(np.array(ITEM_NAMES, dtype=object)[pk % 20], pk % 97 == 0),
        "item_category": col(np.array(ITEM_CATS, dtype=object)[(pk + sk) % 20], sk % 89 == 0),
        "item_price": col(np.where(price_null, 0.0, price), price_null, pa.float64()),
        "item_quantity": col(np.where(qty_null, 0, qty), qty_null, pa.int32()),
        "creation_time_utc": col(day.astype(str).astype(object) + clock.astype(object))})
    opt = pk % 4 == 0
    options = pa.table({
        "lineitem_id": col(lineitem_id[opt]),
        "option_group_name": col(np.array(OPT_GROUPS, dtype=object)[sk[opt] % 4]),
        "option_name": col(np.array(OPT_NAMES, dtype=object)[pk[opt] % 6]),
        "option_price": pa.array(np.where(sk[opt] % 5 == 0, -1.5, (sk[opt] % 400 + 25) / 100.0)),
        "option_quantity": pa.array((sk[opt] % 3 + 1).astype(np.int32))})
    days = np.unique(odate)
    ymd = days.astype(str)
    year, month, dom = (np.array([int(d[a:b]) for d in ymd]) for a, b in ((0, 4), (5, 7), (8, 10)))
    # 1970-01-01 was a Thursday; Spark's dayofweek is 1 for Sunday, 7 for Saturday
    dow = (days.astype(np.int64) + 4) % 7 + 1
    date_dim = pa.table({
        "date_key": col(_str(dom, 2) + "-" + _str(month, 2) + "-" + _str(year)),
        "year": pa.array(year.astype(np.int32)),
        "month": pa.array(month.astype(np.int32)),
        "is_weekend": pa.array(np.isin(dow, (1, 7))),
        "is_holiday": pa.array(((month == 1) & (dom == 1)) | ((month == 7) & (dom == 4)) |
                               ((month == 12) & (dom == 25)))})
    for name, t in (("order_items", items), ("order_item_options", options),
                    ("date_dim", date_dim)):
        _write_csv(t, os.path.join(out, name))
    return {"order_items": items.num_rows, "order_item_options": options.num_rows,
            "date_dim": date_dim.num_rows}
