"""Seeded input generators for the three benchmark workloads.

Every function is a pure function of its seed and size: the same seed
writes byte-identical files, another seed writes different ones. The
program under test only ever sees the files written here.

- `yelp`: the eight raw warehouse inputs in the Yelp dump format
  (NDJSON + two climate CSVs), plus the row count every one of the 21
  warehouse tables must have, kept as the rows are generated.
- `tpch`: the TPC-H-shaped parquet tables (+ `events`) the relational,
  decision-support and as-of catalog entries read.
- `corpus`: `documents` and `embeddings` parquet for the index workload.
- `change_rounds`: the seeded DML batches the index workload commits.
"""
import datetime as dt
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = [("Las Vegas", "NV"), ("Phoenix", "AZ"), ("Toronto", "ON"),
          ("Charlotte", "NC"), ("Scottsdale", "AZ"), ("Pittsburgh", "PA"),
          ("Montreal", "QC"), ("Mesa", "AZ"), ("Henderson", "NV"),
          ("Tempe", "AZ"), ("Cleveland", "OH"), ("Madison", "WI")]
CATEGORIES = ["Restaurants", "Food", "Nightlife", "Bars", "Shopping",
              "Coffee & Tea", "Pizza", "Mexican", "Italian", "Chinese",
              "Japanese", "Sushi Bars", "Burgers", "Fast Food", "Sandwiches",
              "Breakfast & Brunch", "American (New)", "American (Traditional)",
              "Beauty & Spas", "Hair Salons", "Nail Salons", "Auto Repair",
              "Automotive", "Home Services", "Health & Medical", "Dentists",
              "Doctors", "Fitness & Instruction", "Gyms", "Yoga", "Hotels",
              "Event Planning & Services", "Arts & Entertainment", "Bakeries",
              "Desserts", "Ice Cream & Frozen Yogurt", "Thai", "Vietnamese",
              "Indian", "Mediterranean", "Greek", "Seafood", "Steakhouses",
              "Salad", "Vegan", "Vegetarian", "Delis", "Wine Bars", "Pubs",
              "Sports Bars", "Cafes", "Grocery", "Pets", "Veterinarians",
              "Real Estate", "Local Services", "Dry Cleaning", "Plumbing",
              "Florists", "Bookstores"]
ATTRIBUTES = {
    "BikeParking": ["True", "False"],
    "BusinessAcceptsCreditCards": ["True", "False"],
    "RestaurantsPriceRange2": ["1", "2", "3", "4"],
    "WiFi": ["u'free'", "u'no'", "'paid'"],
    "OutdoorSeating": ["True", "False", "None"],
    "RestaurantsTakeOut": ["True", "False"],
    "GoodForKids": ["True", "False"],
    "NoiseLevel": ["u'quiet'", "u'average'", "u'loud'"],
    "Alcohol": ["u'none'", "u'full_bar'", "u'beer_and_wine'"],
    "BusinessParking": ["{'garage': False, 'street': True, 'lot': False}",
                        "{'garage': True, 'street': False, 'lot': True}"],
    "Ambience": ["{'romantic': False, 'casual': True}",
                 "{'romantic': True, 'casual': False}"],
    "HasTV": ["True", "False"],
    "Caters": ["True", "False"],
    "ByAppointmentOnly": ["True", "False"],
    "DogsAllowed": ["True", "False"],
}
DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
        "Saturday", "Sunday"]
WORDS = ("the food was great service slow fast friendly staff price value "
         "place order pizza coffee table wait time back again love best worst "
         "fresh hot cold menu dinner lunch breakfast bar drink beer wine "
         "clean dirty small big nice rude amazing ok good bad").split()
ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"

# daily spine of the warehouse's date dimension (dw.DateDims)
SPINE_DAYS = 28241


def _id(rng, n=22):
    return "".join(rng.choice(ALNUM) for _ in range(n))


def _ts(rng, y0=2005, y1=2021):
    return "%04d-%02d-%02d %02d:%02d:%02d" % (
        rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28),
        rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59))


def _text(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _write_lines(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def yelp(out_dir, seed, n_business):
    """Write the eight raw inputs; return {table: expected row count}."""
    rng = random.Random(seed * 1000003 + 17)
    os.makedirs(out_dir, exist_ok=True)
    n_user = max(4, n_business * 3 // 4)
    n_review = n_business * 15 // 2
    n_tip = n_business * 2
    exp = {}

    # ---- business: categories / attributes / hours
    biz, biz_ids = [], []
    cats, attrs = set(), set()
    n_cat = n_attr = n_hours = 0
    for _ in range(n_business):
        bid = _id(rng)
        biz_ids.append(bid)
        city, state = rng.choice(CITIES)
        r = rng.random()
        if r < 0.04:
            categories = None
        elif r < 0.06:
            categories = ""
        else:
            cs = rng.sample(CATEGORIES, rng.randint(1, 5))
            cats.update(cs)
            n_cat += len(cs)
            categories = ", ".join(cs)
        attributes = None
        if rng.random() < 0.9:
            names = rng.sample(sorted(ATTRIBUTES), rng.randint(0, 7))
            attributes = {a: rng.choice(ATTRIBUTES[a]) for a in names}
            attrs.update(attributes.items())
            n_attr += len(attributes)
        hours = None
        if rng.random() < 0.85:
            hours = {}
            for d in rng.sample(DAYS, rng.randint(1, 7)):
                k = rng.random()
                if k < 0.05:
                    hours[d] = "closed"            # no '-': skipped
                elif k < 0.08:
                    hours[d] = "x:0-17:0"          # non-integer hour: skipped
                elif k < 0.15:
                    hours[d] = "11:0-0:0"          # crosses midnight
                    n_hours += 1
                else:
                    o = rng.randint(5, 12)
                    hours[d] = "%d:0-%d:%d" % (o, rng.randint(o + 1, 23),
                                               rng.choice([0, 30]))
                    n_hours += 1
        biz.append({
            "business_id": bid, "name": _text(rng, 1, 3).title(),
            "address": "%d %s St" % (rng.randint(1, 9999), rng.choice(WORDS)),
            "city": city, "state": state,
            "postal_code": "%05d" % rng.randint(10000, 99999),
            "latitude": round(rng.uniform(33.0, 45.0), 6),
            "longitude": round(rng.uniform(-115.0, -73.0), 6),
            "is_open": rng.randint(0, 1),
            "stars": rng.randint(2, 10) / 2.0,
            "review_count": rng.randint(3, 900),
            "categories": categories, "attributes": attributes,
            "hours": hours})
    # ~1% exact duplicate lines: dim_business dedups them, facts do not
    dups = [dict(b) for b in rng.sample(biz, max(1, n_business // 100))]
    for b in dups:
        c = b["categories"]
        if c:
            n_cat += len(c.split(", "))
        n_attr += len(b["attributes"] or {})
        n_hours += sum(1 for v in (b["hours"] or {}).values()
                       if v not in ("closed", "x:0-17:0"))
    _write_lines(os.path.join(out_dir, "business.json"), biz + dups)
    exp.update(dim_business=n_business, dim_category=len(cats),
               fact_business_categories=n_cat, dim_attribute=len(attrs),
               fact_business_attributes=n_attr, fact_business_hours=n_hours)

    # ---- user: elite years / friend lists (friend tokens are not trimmed)
    user_ids = [_id(rng) for _ in range(n_user)]
    elites, friend_tok = set(), set()
    n_elite = n_friend = 0
    with open(os.path.join(out_dir, "user.json"), "w") as f:
        for uid in user_ids:
            ys = sorted(rng.sample(range(2006, 2021), rng.choice([0, 0, 0, 1, 2, 3])))
            elites.update(str(y) for y in ys)
            n_elite += len(ys)
            fr = rng.sample(user_ids, min(len(user_ids), rng.randint(0, 8)))
            toks = [fr[0]] + [" " + x for x in fr[1:]] if fr else []
            friend_tok.update(toks)
            n_friend += len(toks)
            row = {"user_id": uid, "name": rng.choice(WORDS).title(),
                   "review_count": rng.randint(0, 500),
                   "yelping_since": _ts(rng, 2004, 2019),
                   "useful": rng.randint(0, 300), "funny": rng.randint(0, 100),
                   "cool": rng.randint(0, 100), "fans": rng.randint(0, 50),
                   "average_stars": round(rng.uniform(1, 5), 2)}
            for c in ("hot", "more", "profile", "cute", "list", "note", "plain",
                      "cool", "funny", "writer", "photos"):
                row["compliment_" + c] = rng.randint(0, 40)
            row["elite"] = ",".join(str(y) for y in ys)
            row["friends"] = ",".join(toks)
            f.write(json.dumps(row, separators=(",", ":")) + "\n")
    exp.update(dim_user=n_user, dim_elite=len(elites), fact_user_elite=n_elite,
               dim_friend=len(friend_tok), fact_user_friend=n_friend)

    # ---- review / tip
    with open(os.path.join(out_dir, "review.json"), "w") as f:
        for _ in range(n_review):
            f.write(json.dumps({
                "review_id": _id(rng), "business_id": rng.choice(biz_ids),
                "user_id": rng.choice(user_ids),
                "stars": float(rng.randint(1, 5)),
                "useful": rng.randint(0, 20), "funny": rng.randint(0, 10),
                "cool": rng.randint(0, 10), "text": _text(rng, 8, 40),
                "date": _ts(rng)}, separators=(",", ":")) + "\n")
    with open(os.path.join(out_dir, "tip.json"), "w") as f:
        for _ in range(n_tip):
            f.write(json.dumps({
                "user_id": rng.choice(user_ids),
                "business_id": rng.choice(biz_ids),
                "text": _text(rng, 3, 12), "date": _ts(rng),
                "compliment_count": rng.randint(0, 3)},
                separators=(",", ":")) + "\n")
    exp.update(fact_reviews=n_review, fact_tips=n_tip)

    # ---- checkin: comma-separated timestamps, some unparseable
    n_ck = 0
    with open(os.path.join(out_dir, "checkin.json"), "w") as f:
        for bid in biz_ids:
            if rng.random() < 0.3:
                continue
            toks = []
            for _ in range(rng.randint(1, 12)):
                if rng.random() < 0.03:
                    toks.append("not-a-date")
                else:
                    toks.append(_ts(rng, 2010, 2021))
                    n_ck += 1
            f.write(json.dumps({"business_id": bid, "date": ", ".join(toks)},
                               separators=(",", ":")) + "\n")
    exp["fact_checkins"] = n_ck

    # ---- covid features + highlights JSON (some invalid)
    n_cov = n_hl = 0
    with open(os.path.join(out_dir, "covid.json"), "w") as f:
        for bid in biz_ids:
            if rng.random() < 0.5:
                continue
            n_cov += 1
            if rng.random() < 0.05:
                hl = "not json"
            else:
                items = [{"identifier": rng.choice(["delivery", "takeout",
                                                    "curbside", "masks"]),
                          "params": "{}", "type": "covid"}
                         for _ in range(rng.randint(0, 3))]
                n_hl += len(items)
                hl = json.dumps(items)
            f.write(json.dumps({
                "business_id": bid, "Grubhub enabled": rng.random() < 0.3,
                "Request a Quote Enabled": rng.random() < 0.1,
                "Covid Banner": rng.choice(["FALSE", "We are open!"]),
                "Temporary Closed Until": "FALSE",
                "Virtual Services Offered": "FALSE",
                "highlights": hl}, separators=(",", ":")) + "\n")
    exp.update(fact_covid_features=n_cov, dim_highlights=n_hl)

    # ---- climate CSVs: one row per day from a seeded start
    n_days = 1000 + n_business // 20
    start = dt.date(2004, 1, 1) + dt.timedelta(days=rng.randint(0, 2000))
    with open(os.path.join(out_dir, "temperature.csv"), "w") as ft, \
            open(os.path.join(out_dir, "precipitation.csv"), "w") as fp:
        ft.write("date,min,max,normal_min,normal_max\n")
        fp.write("date,precipitation,precipitation_normal\n")
        for i in range(n_days):
            d = (start + dt.timedelta(days=i)).strftime("%Y%m%d")
            lo = rng.randint(20, 80)
            ft.write("%s,%d,%d,%.1f,%.1f\n" % (d, lo, lo + rng.randint(5, 30),
                                               lo + 0.5, lo + 15.5))
            p = "T" if rng.random() < 0.05 else "%.2f" % (rng.random() * 0.5)
            fp.write("%s,%s,%.2f\n" % (d, p, rng.random() * 0.2))
    exp.update(dim_temperature=n_days, dim_precipitation=n_days)

    exp.update(dim_datetime=SPINE_DAYS, dim_date=SPINE_DAYS, dim_hour=24)
    return exp


def input_bytes(dir_):
    return sum(os.path.getsize(os.path.join(dir_, f)) for f in os.listdir(dir_))


# --------------------------------------------------------------- TPC-H-ish

def _money(a):
    return np.round(a, 2)


def tpch(out_dir, seed, sf):
    """TPC-H-shaped tables + `events` at scale factor `sf` (parquet)."""
    rs = np.random.default_rng(seed * 7919 + 3)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) // 5)})
    n_c = max(10, int(150000 * sf))
    n_s = max(5, int(10000 * sf))
    n_p = max(20, int(200000 * sf))
    n_o = max(50, int(1500000 * sf))
    ckeys = np.sort(rs.choice(np.arange(1, n_c * 2), n_c, replace=False))
    put("customer", {
        "c_custkey": pa.array(ckeys.astype(np.int64)),
        "c_name": ["Customer#%09d" % k for k in ckeys],
        "c_nationkey": pa.array(rs.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": _money(rs.uniform(-999.99, 9999.99, n_c)),
        "c_mktsegment": rs.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_c).tolist()})
    skeys = np.arange(1, n_s + 1)
    put("supplier", {
        "s_suppkey": pa.array(skeys.astype(np.int64)),
        "s_name": ["Supplier#%09d" % k for k in skeys],
        "s_nationkey": pa.array(rs.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": _money(rs.uniform(-999.99, 9999.99, n_s))})
    adj = ["red", "small", "hot", "old", "large", "blue", "green", "shiny"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gear", "tube"]
    put("part", {
        "p_partkey": pa.array(np.arange(1, n_p + 1, dtype=np.int64)),
        "p_name": [a + " " + b for a, b in zip(rs.choice(adj, n_p),
                                               rs.choice(noun, n_p))],
        "p_brand": ["Brand#%d" % b for b in rs.integers(1, 26, n_p)],
        "p_type": rs.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_p).tolist(),
        "p_size": pa.array(rs.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": _money(rs.uniform(900, 1000, n_p))})
    epoch = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86400 * 1000000, "us")
    okeys = np.arange(1, n_o + 1, dtype=np.int64) * 4
    odate = epoch + rs.integers(0, 2404, n_o) * day
    put("orders", {
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(rs.choice(ckeys, n_o).astype(np.int64)),
        "o_orderstatus": rs.choice(["F", "O", "P"], n_o).tolist(),
        "o_totalprice": _money(rs.uniform(1000, 500000, n_o)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": rs.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_o).tolist()})
    per = rs.integers(1, 8, n_o)
    n_l = int(per.sum())
    lo = np.repeat(okeys, per)
    ln = (np.arange(n_l) - np.repeat(np.cumsum(per) - per, per) + 1)
    qty = rs.integers(1, 51, n_l).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(lo),
        "l_partkey": pa.array(rs.integers(1, n_p + 1, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rs.integers(1, n_s + 1, n_l).astype(np.int64)),
        "l_linenumber": pa.array(ln.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rs.uniform(900, 2100, n_l)),
        "l_discount": np.round(rs.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rs.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": rs.choice(["A", "N", "R"], n_l).tolist(),
        "l_linestatus": rs.choice(["F", "O"], n_l).tolist(),
        "l_shipdate": pa.array(np.repeat(odate, per) +
                               rs.integers(1, 122, n_l) * day)})
    n_e = max(100, int(1000000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    put("events", {
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": pa.array(np.sort(t0 + rs.integers(0, 30 * 86400 * 1000000, n_e)
                               .astype("timedelta64[us]"))),
        "user_id": pa.array(rs.integers(0, 150, n_e).astype(np.int64)),
        "event_type": rs.choice(["click", "error", "purchase", "signup",
                                 "view"], n_e).tolist(),
        "value": _money(rs.uniform(0.01, 490, n_e)),
        "props": ['{"k": %d}' % k for k in rs.integers(0, 100, n_e)]})


# ------------------------------------------------------------ index corpus

DOC_WORDS = ("a the agg batch big column customer data filter fast group "
             "hash join key line merge order part query row scan slow small "
             "sort spark stream table value vector window").split()


def _doc(rng):
    return " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90)))


def corpus(out_dir, seed, n_docs, n_vecs, dim=64, n_labels=10):
    """`documents` (doc_id, text, lang, source, n_chars) and `embeddings`
    (vec_id, embedding float[dim], label) parquet. A seeded fifth of the
    documents are near-copies of another, so near-duplicate search finds
    pairs."""
    rng = random.Random(seed * 31337 + 5)
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            base = texts[rng.randrange(len(texts))].split()
            base[rng.randrange(len(base))] = rng.choice(DOC_WORDS)
            texts.append(" ".join(base))
        else:
            texts.append(_doc(rng))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [rng.choice(["en", "en", "de", "es", "fr", "zh"]) for _ in texts],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))
    rs = np.random.default_rng(seed * 104729 + 11)
    centers = rs.normal(0, 1, (n_labels, dim))
    labels = rs.integers(0, n_labels, n_vecs)
    v = centers[labels] + rs.normal(0, 0.8, (n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.9).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))


def change_rounds(seed, n_rounds, n_docs, n_vecs, dim=64, n_labels=10,
                  batch=6):
    """One list of SQL DML statements per round, over the tables
    `{docs}` (doc_id, text) and `{vecs}` (vec_id, label, v, norm): a
    DELETE, an UPDATE and an INSERT of `batch` generated rows on each.
    Deleted and inserted ids never collide across rounds."""
    rng = random.Random(seed * 65537 + 29)
    rounds = []
    next_doc, next_vec = n_docs, n_vecs
    for r in range(n_rounds):
        stmts = []
        lo = rng.randrange(0, max(1, next_doc - batch))
        stmts.append("DELETE FROM {docs} WHERE doc_id >= %d AND doc_id < %d "
                     "AND doc_id %% 3 = %d" % (lo, lo + batch, r % 3))
        lo = rng.randrange(0, max(1, next_doc - batch))
        stmts.append("UPDATE {docs} SET text = concat(text, ' %s %s') "
                     "WHERE doc_id >= %d AND doc_id < %d" % (
                         rng.choice(DOC_WORDS), rng.choice(DOC_WORDS),
                         lo, lo + batch))
        rows = []
        for _ in range(batch):
            rows.append("(%d, '%s')" % (next_doc, _doc(rng)))
            next_doc += 1
        stmts.append("INSERT INTO {docs} VALUES " + ", ".join(rows))
        lo = rng.randrange(0, max(1, next_vec - batch))
        stmts.append("DELETE FROM {vecs} WHERE vec_id >= %d AND vec_id < %d "
                     "AND vec_id %% 3 = %d" % (lo, lo + batch, r % 3))
        lo = rng.randrange(0, max(1, next_vec - batch))
        stmts.append("UPDATE {vecs} SET v = reverse(v) "
                     "WHERE vec_id >= %d AND vec_id < %d" % (lo, lo + batch))
        rows = []
        for _ in range(batch):
            vec = [rng.gauss(0, 1) for _ in range(dim)]
            nrm = math.sqrt(sum(x * x for x in vec))
            vec = [round(x / nrm * 0.9, 6) for x in vec]
            rows.append("(%d, %d, array(%s))" % (
                next_vec, rng.randrange(n_labels),
                ", ".join("CAST(%r AS DOUBLE)" % x for x in vec)))
            next_vec += 1
        stmts.append("INSERT INTO {vecs} SELECT id, label, v, "
                     "sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) FROM VALUES "
                     + ", ".join(rows) + " AS t(id, label, v)")
        rounds.append(stmts)
    return rounds
