"""Seeded input generator and independent oracle for the ETL benchmark.

`generate_*` writes the inputs a workload reads: hourly Amplitude /export
ZIPs (gzipped NDJSON members, the real export shape) or a CSV directory.
From the same files and without the engine, `*_counts` computes with DuckDB
how many records of each kind the loopback Mixpanel API must receive, and
`amplitude_wire` / `_csv_file_wire` model the transform and sink shaping in
Python to give the wire records themselves, which `digest` folds into one
order-independent value per record kind.
"""
import calendar
import csv
import gzip
import hashlib
import io
import json
import multiprocessing
import os
import random
import zipfile

DAY = "2024-03-05"
TOKEN = "bench-token"

# Traffic shape of the ETL inputs. Three ratios are part of the workload
# definition (README): users own 1-3 devices, about 30% of events are
# device-only and about 20% carry user_properties. Every other value below
# is an ASSUMPTION: the reference ships no fixtures or sample exports, and
# no public source was found for them, so none is checked against real
# traffic. They set the /engage and $merge volume (events per user), how
# much of the transform's md5 fallback runs (explicit $insert_id share) and
# the size of each record, so figures that depend on them, the layer split
# among them, hold for this generator only.
MAX_DEVICES = 3               # workload definition
DEVICE_ONLY = 0.30            # workload definition
WITH_USER_PROPERTIES = 0.20   # workload definition
EVENTS_PER_USER = 26          # assumed
AMPLITUDE_ID_ONLY = 0.01      # assumed
WITH_INSERT_ID = 0.70         # assumed
WITH_IP = 0.90                # assumed
WITH_COUNTRY = 0.95           # assumed
WITH_AMOUNT = 0.50            # assumed
WITH_BUTTON = 0.30            # assumed
WITH_GROUPS = 0.10            # assumed
WITH_DEVICE_FIELDS = 0.80     # assumed
PAYING = 0.05                 # assumed
CSV_ROWS_PER_USER = 10        # assumed
# CSV time formats: epoch seconds, epoch milliseconds, else a timestamp
# string (assumed shares).
CSV_EPOCH_S, CSV_EPOCH_MS = 0.60, 0.30
# CSV column fill rates (assumed): most optional columns, referrer,
# amount, campaign.
CSV_FILL, CSV_FILL_REFERRER, CSV_FILL_AMOUNT, CSV_FILL_CAMPAIGN = \
    0.9, 0.5, 0.4, 0.3

EVENT_TYPES = ["page view", "click", "sign up", "search", "add to cart",
               "checkout", "purchase", "share", "login", "logout",
               "play video", "open app"]
CITIES = [("San Francisco", "California", "US"), ("Austin", "Texas", "US"),
          ("Berlin", "Berlin", "DE"), ("Paris", "Ile-de-France", "FR"),
          ("Tokyo", "Tokyo", "JP"), ("Toronto", "Ontario", "CA"),
          ("Lagos", "Lagos", "NG"), ("Sydney", "New South Wales", "AU")]
OSES = [("ios", "17.2", "Apple", "Apple", "iPhone 15"),
        ("android", "14", "Samsung", "Samsung", "Galaxy S23"),
        ("android", "13", "Google", "Google", "Pixel 7"),
        ("web", "", "", "", "")]
PLANS = ["free", "pro", "team", "enterprise"]
PAGES = ["/", "/pricing", "/docs", "/blog", "/signup", "/account", "/search"]

# Amplitude rename pack: source column -> Mixpanel property (P4).
RENAMES = [("app_version", "$app_version_string"), ("os_name", "$os"),
           ("os_name", "$browser"), ("os_version", "$os_version"),
           ("device_brand", "$brand"),
           ("device_manufacturer", "$manufacturer"),
           ("device_model", "$model"), ("region", "$region"),
           ("city", "$city")]

CSV_COLUMNS = ["insert_id", "action", "guid", "time", "plan", "page",
               "referrer", "browser", "country", "amount", "campaign",
               "raw_ua"]
CSV_ROLES = {"event": "action", "distinct_id": "guid", "time": "time",
             "insert_id": "insert_id", "ignore": ["raw_ua"]}


def _day_epoch():
    return calendar.timegm((2024, 3, 5, 0, 0, 0))


# ---------------------------------------------------------------- amplitude

def amplitude_rows(seed, n_events):
    """Amplitude export events, the same number in every hour, in the shape
    the constants above set. Event seconds are unique per user, so
    first-wins picks are unambiguous."""
    rng = random.Random(seed)
    n_users = max(1, n_events // EVENTS_PER_USER)
    devices = [[f"d{u:06d}{j}" for j in range(rng.randint(1, MAX_DEVICES))]
               for u in range(n_users)]
    used = [set() for _ in range(n_users)]
    rows = []
    for i in range(n_events):
        u = rng.randrange(n_users)
        while True:
            sec = (i % 24) * 3600 + rng.randrange(3600)
            if sec not in used[u]:
                used[u].add(sec)
                break
        roll = rng.random()
        r = {"event_type": rng.choice(EVENT_TYPES)}
        if roll >= AMPLITUDE_ID_ONLY + DEVICE_ONLY:
            r["user_id"] = f"u{u:06d}"
        if roll >= AMPLITUDE_ID_ONLY:
            r["device_id"] = rng.choice(devices[u])
        r["amplitude_id"] = 10_000_000 + u
        hh, rem = divmod(sec, 3600)
        mm, ss = divmod(rem, 60)
        r["event_time"] = (f"{DAY} {hh:02d}:{mm:02d}:{ss:02d}."
                           f"{rng.randrange(1_000_000):06d}")
        if rng.random() < WITH_INSERT_ID:
            r["$insert_id"] = "%032x" % rng.getrandbits(128)
        if rng.random() < WITH_IP:
            r["ip_address"] = (f"10.{rng.randrange(256)}."
                               f"{rng.randrange(256)}.{rng.randrange(256)}")
        city, region, country = rng.choice(CITIES)
        r["city"], r["region"] = city, region
        r["country"] = country if rng.random() < WITH_COUNTRY else ""
        ep = {"n": str(i), "page": rng.choice(PAGES)}
        if rng.random() < WITH_AMOUNT:
            ep["amount"] = str(rng.randrange(1, 500))
        if rng.random() < WITH_BUTTON:
            ep["button"] = f"b{rng.randrange(40)}"
        r["event_properties"] = ep
        if rng.random() < WITH_USER_PROPERTIES:
            r["user_properties"] = {"plan": rng.choice(PLANS),
                                    "cohort": f"c{rng.randrange(12)}",
                                    "age": str(rng.randrange(18, 80))}
        else:
            r["user_properties"] = {}
        r["groups"] = ({"company": f"co{rng.randrange(50)}"}
                       if rng.random() < WITH_GROUPS else {})
        if rng.random() < WITH_DEVICE_FIELDS:
            os_name, os_ver, brand, manu, model = rng.choice(OSES)
            r["app_version"] = f"2.{rng.randrange(10)}.{rng.randrange(10)}"
            r["os_name"] = os_name
            for k, v in (("os_version", os_ver), ("device_brand", brand),
                         ("device_manufacturer", manu),
                         ("device_model", model)):
                if v:
                    r[k] = v
        if rng.random() < PAYING:
            r["paying"] = "true"
        rows.append((sec // 3600, r))
    return rows


def generate_amplitude(seed, n_events, out_dir):
    """Writes `export/<start hour>.zip` (what the loopback /export serves)
    and `src/<hour>.json.gz` (the same members, for the oracle)."""
    exp = os.path.join(out_dir, "export")
    src = os.path.join(out_dir, "src")
    os.makedirs(exp, exist_ok=True)
    os.makedirs(src, exist_ok=True)
    by_hour = [[] for _ in range(24)]
    for h, r in amplitude_rows(seed, n_events):
        by_hour[h].append(json.dumps(r, separators=(",", ":")))
    for h, lines in enumerate(by_hour):
        member = gzip.compress(("\n".join(lines) + "\n").encode(), mtime=0)
        with open(os.path.join(src, f"{h:02d}.json.gz"), "wb") as f:
            f.write(member)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
            z.writestr(f"187520/187520_{DAY}_{h}#0.json.gz", member)
        with open(os.path.join(exp, f"20240305T{h:02d}.zip"), "wb") as f:
            f.write(buf.getvalue())


def _read_amplitude(in_dir):
    src = os.path.join(in_dir, "src")
    for name in sorted(os.listdir(src)):
        with gzip.open(os.path.join(src, name), "rt") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _nonempty(v):
    return v is not None and v != ""


def _epoch(ts):
    date, clock = ts.split(" ")
    y, mo, d = (int(x) for x in date.split("-"))
    hh, mm, ss = clock.split(":")
    return calendar.timegm((y, mo, d, int(hh), int(mm), int(float(ss))))


def _md5(*parts):
    return hashlib.md5("|".join(p for p in parts if p is not None)
                       .encode()).hexdigest()


def _renamed(r):
    out = {}
    for src, dst in RENAMES:
        if r.get(src) is not None:
            out[dst] = str(r[src])
    return out


def amplitude_wire(in_dir):
    """Wire records the Mixpanel API must receive, per record kind."""
    events, profiles, merges = [], {}, {}
    for r in _read_amplitude(in_dir):
        did = next((str(v) for v in (r.get("user_id"), r.get("device_id"),
                                     r.get("amplitude_id"))
                    if _nonempty(v)), None)
        t = _epoch(r["event_time"])
        ep = r.get("event_properties") or {}
        props = {}
        for m in (ep, r.get("groups") or {}, r.get("user_properties") or {},
                  _renamed(r)):
            props.update(m)
        for k, v in (("$device_id", r.get("device_id")),
                     ("ip", r.get("ip_address")),
                     ("mp_country_code", r.get("country"))):
            if _nonempty(v):
                props[k] = v
        props["$source"] = "amplitude-to-mixpanel"
        insert_id = r.get("$insert_id") or _md5(
            r["event_type"], did, str(t),
            json.dumps(ep, separators=(",", ":")))
        events.append({"event": r["event_type"], "properties": {
            "distinct_id": did, "time": t, "$insert_id": insert_id,
            "$source": "amplitude", "properties": props}})
        up = r.get("user_properties") or {}
        if up and (did not in profiles or t < profiles[did][0]):
            s = dict(up)
            s.update(_renamed(r))
            profiles[did] = (t, {"$token": TOKEN, "$distinct_id": did,
                                 "$ip": r.get("ip_address") or "",
                                 "$ignore_time": True, "$set": s})
        a, b = r.get("user_id"), r.get("device_id")
        if _nonempty(a) and _nonempty(b) and a != b:
            key = _md5(a, b)
            if key not in merges or t < merges[key]["properties"]["time"]:
                merges[key] = {"event": "$merge", "properties": {
                    "$distinct_ids": [a, b], "$insert_id": key, "time": t}}
    return {"events": events, "merges": list(merges.values()),
            "profiles": [p for _, p in profiles.values()]}


def amplitude_counts(in_dir):
    """Per-endpoint record counts, computed by DuckDB from the input."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW amp AS SELECT * FROM read_json(
        '{os.path.join(in_dir, "src", "*.json.gz")}',
        format='newline_delimited', columns={{
          'user_id': 'VARCHAR', 'device_id': 'VARCHAR',
          'amplitude_id': 'BIGINT', 'user_properties': 'JSON'}})""")
    events, = con.execute("SELECT count(*) FROM amp").fetchone()
    profiles, = con.execute("""SELECT count(DISTINCT coalesce(
          nullif(user_id, ''), nullif(device_id, ''), CAST(amplitude_id AS VARCHAR)))
        FROM amp WHERE user_properties IS NOT NULL
          AND json_type(user_properties) = 'OBJECT'
          AND len(json_keys(user_properties)) > 0""").fetchone()
    merges, = con.execute("""SELECT count(*) FROM (SELECT DISTINCT user_id, device_id
        FROM amp WHERE user_id <> '' AND device_id <> ''
          AND user_id <> device_id)""").fetchone()
    con.close()
    return {"events": events, "profiles": profiles, "merges": merges}


# ---------------------------------------------------------------- csv

def generate_csv(seed, n_rows, out_dir, files=4):
    """A CSV directory in the reference's csv-connector shape: three time
    formats (epoch s, epoch ms, timestamp string) and sparse columns, in the
    assumed shares above. Files are written in parallel, each from its own
    seeded stream."""
    d = os.path.join(out_dir, "csv")
    os.makedirs(d, exist_ok=True)
    per_file = -(-n_rows // files)
    jobs = [(seed, fno, fno * per_file, min(per_file, n_rows - fno * per_file),
             n_rows, os.path.join(d, f"part-{fno:02d}.csv"))
            for fno in range(files)]
    with multiprocessing.get_context("fork").Pool(files) as p:
        p.starmap(_write_csv_file, jobs)


def _write_csv_file(seed, fno, first, n, n_rows, path):
    rng = random.Random(f"{seed}/{fno}")
    base = _day_epoch()
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CSV_COLUMNS)
        for i in range(first, first + n):
            t = base + rng.randrange(86400)
            fmt = rng.random()
            if fmt < CSV_EPOCH_S:
                ts = str(t)
            elif fmt < CSV_EPOCH_S + CSV_EPOCH_MS:
                ts = str(t * 1000 + rng.randrange(1000))
            else:
                hh, rem = divmod(t - base, 3600)
                ts = f"{DAY} {hh:02d}:{rem // 60:02d}:{rem % 60:02d}"

            def opt(v, p=CSV_FILL):
                return v if rng.random() < p else ""
            w.writerow([
                f"csv-{seed}-{i}", rng.choice(EVENT_TYPES),
                f"user-{rng.randrange(max(1, n_rows // CSV_ROWS_PER_USER))}", ts,
                opt(rng.choice(PLANS)), rng.choice(PAGES),
                opt(f"https://ref{rng.randrange(30)}.example/",
                    CSV_FILL_REFERRER),
                opt(rng.choice(["chrome", "firefox", "safari", "edge"])),
                opt(rng.choice(CITIES)[2]),
                opt(str(rng.randrange(1, 1000)), CSV_FILL_AMOUNT),
                opt(f"cmp{rng.randrange(20)}", CSV_FILL_CAMPAIGN),
                f"Mozilla/5.0 (X11; Linux x86_64) r{rng.randrange(99)}"])


def _csv_time(v):
    if v.isdigit():
        return int(v) // 1000 if len(v) >= 13 else int(v)
    return _epoch(v)


def _csv_file_wire(path):
    skip = {CSV_ROLES["event"], CSV_ROLES["distinct_id"], CSV_ROLES["time"],
            CSV_ROLES["insert_id"], *CSV_ROLES["ignore"]}
    with open(path, newline="") as f:
        return [{"event": row["action"], "properties": {
            "distinct_id": row["guid"], "time": _csv_time(row["time"]),
            "$insert_id": row["insert_id"], "$source": "csv",
            "properties": {k: v for k, v in row.items()
                           if k not in skip and v != ""}}}
                for row in csv.DictReader(f)]


def _csv_file_digest(path):
    return digest(_csv_file_wire(path))


def csv_digests(in_dir):
    """Per-kind wire digests for the CSV workload, one file per process."""
    d = os.path.join(in_dir, "csv")
    files = [os.path.join(d, n) for n in sorted(os.listdir(d))]
    with multiprocessing.get_context("fork").Pool(min(4, len(files))) as p:
        parts = p.map(_csv_file_digest, files)
    return {"events": sum(parts) % (1 << 64), "merges": 0, "profiles": 0}


def csv_counts(in_dir):
    import duckdb
    con = duckdb.connect()
    events, = con.execute(f"""SELECT count(*) FROM read_csv(
        '{os.path.join(in_dir, "csv", "*.csv")}', header=true,
        all_varchar=true)""").fetchone()
    con.close()
    return {"events": events, "profiles": 0, "merges": 0}


# ---------------------------------------------------------------- digest

def record_digest(rec):
    """64-bit hash of one record in canonical (sorted-key) form."""
    canon = json.dumps(rec, sort_keys=True, separators=(",", ":"),
                       ensure_ascii=False)
    return int.from_bytes(hashlib.sha256(canon.encode()).digest()[:8], "big")


def digest(records):
    """Order-independent digest: the sum of record hashes mod 2^64."""
    return sum(record_digest(r) for r in records) % (1 << 64)


# ---------------------------------------------------------------- tables

QUERY_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window", "spark",
         "a", "group", "part", "big", "sort", "query", "fast", "the"]
LANGS = ["en"] * 3 + ["zh", "de", "es", "fr"]


def generate_tables(seed, n_events, out_dir):
    """The `events`, `documents` and `embeddings` parquet tables the query
    mix reads, with the schemas and shape of the repository's test tables
    (TESTDATA.md; measured on sf0.01): events over 30 days, about 66 per
    user, five types, values 0.01-490 and JSON props; one document per 20
    events, 8-100 words from the same 30-word vocabulary, about 5% of them
    a near copy of an earlier one; 64-dimensional unit embeddings with one
    of ten labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(1, n_events // 66)
    base_us = calendar.timegm((2024, 1, 1, 0, 0, 0)) * 1_000_000
    step = 30 * 86400 * 1_000_000 // n_events
    pq.write_table(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([base_us + i * step + rng.randrange(step)
                        for i in range(n_events)], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)],
                            pa.int64()),
        "event_type": [rng.choice(QUERY_EVENT_TYPES) for _ in range(n_events)],
        "value": [rng.randrange(1, 49003) / 100 for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    }), os.path.join(out_dir, "events.parquet"))

    n_docs = max(60, n_events // 20)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(8, 100))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    vecs = []
    for _ in range(n_docs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_docs)],
                          pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


# ---------------------------------------------------------------- matrix

def generate_matrix(out_dir):
    """Tiny fixtures for the connector matrix, one per staged source."""
    m = os.path.join(out_dir, "matrix")

    def put(sub, name, lines):
        os.makedirs(os.path.join(m, sub), exist_ok=True)
        with open(os.path.join(m, sub, name), "w") as f:
            f.write("\n".join(lines) + "\n")
    put("amplitude", "events.json", [json.dumps(r) for _, r in
                                     amplitude_rows(7, 40)])
    put("csv", "data.csv", [",".join(CSV_COLUMNS)] + [
        f"m{i},click,user-{i % 5},{_day_epoch() + i},pro,/,,chrome,US,1,,ua"
        for i in range(20)])
    put("ga", "sessions.json", [json.dumps({
        "visitNumber": "1", "visitId": f"v{i}",
        "visitStartTime": str(_day_epoch() + 60 * i), "date": "20240305",
        "fullVisitorId": f"fv{i % 3}", "channelGrouping": "Direct",
        "totals": {"visits": "1", "hits": "2"},
        "trafficSource": {"source": "google", "medium": "organic"},
        "device": {"browser": "Chrome", "operatingSystem": "Linux"},
        "geoNetwork": {"country": "Germany", "city": "Berlin"},
        "customDimensions": [],
        "hits": [{"hitNumber": "1", "time": "0", "type": "PAGE",
                  "eventInfo": {"eventAction": "view"},
                  "page": {"pagePath": "/"}, "customDimensions": [],
                  "customMetrics": []},
                 {"hitNumber": "2", "time": "4000", "type": "EVENT",
                  "eventInfo": {"eventCategory": "cta",
                                "eventAction": "click"},
                  "page": {"pagePath": "/pricing"}, "customDimensions": [],
                  "customMetrics": []}]}) for i in range(6)])
    put("mixpanel", "export.json", [json.dumps({
        "event": "click", "distinct_id": f"u{i % 4}",
        "time": _day_epoch() + i, "insert_id": f"mp{i}", "source": "mp",
        "properties": {"page": "/"}}) for i in range(12)])
    put("mixpanel-engage", "engage.json", [json.dumps({
        "$distinct_id": f"u{i}", "$properties": {"plan": "pro"}})
        for i in range(4)])
