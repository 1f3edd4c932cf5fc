"""Loopback vendor API for the ETL benchmark, run as its own process.

Serves Amplitude `/api/2/export` hour ZIPs from a directory and accepts
Mixpanel `/import` and `/engage` POSTs. While a run is being timed it only
reads each body and answers 200 in Mixpanel's response shape; bodies are
kept per epoch (one epoch per engine iteration) and are decompressed,
parsed and digested only when `/__stats` asks for them after the run.

Control endpoints (benchmark only):
  POST /__epoch?name=<e>   later POSTs are filed under epoch <e>
  GET  /__stats?names=<e1,e2,..>  per-epoch counts, bytes, duplicates and
                           digests
  GET  /__cpu              CPU seconds spent per epoch while it was current
  POST /__shutdown

Usage: python3 server.py <export dir>   (prints "PORT <n>" when ready)
"""
import gzip
import hashlib
import json
import multiprocessing
import os
import sys
import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

EXPORT_DIR = sys.argv[1] if len(sys.argv) > 1 else "."
LOCK = threading.Lock()
STATE = {"epoch": "idle", "since": time.process_time()}
BODIES = {}   # epoch -> [(endpoint, gzip bytes)]
CPU = Counter()


def switch_epoch(name):
    with LOCK:
        now = time.process_time()
        CPU[STATE["epoch"]] += now - STATE["since"]
        STATE["epoch"], STATE["since"] = name, now


def body_stats(endpoint, body):
    """Records, digest and ids per record kind in one gzipped body."""
    raw = gzip.decompress(body)
    out = {}
    for r in json.loads(raw):
        if endpoint == "engage":
            kind, key = "profiles", r.get("$distinct_id")
        else:
            kind = "merges" if r.get("event") == "$merge" else "events"
            key = (r.get("properties") or {}).get("$insert_id")
        k = out.setdefault(kind, [0, []])
        k[0] = (k[0] + gen.record_digest(r)) % (1 << 64)
        k[1].append(key)
    return len(raw), out


MEMO = {}   # (endpoint, sha256 of body) -> body_stats


def parse_new_bodies(names):
    """Parses each distinct body of these epochs once, in worker processes;
    iterations that send identical bodies share the parse."""
    todo = {}
    for name in names:
        for endpoint, body in BODIES.get(name, []):
            key = (endpoint, hashlib.sha256(body).digest())
            if key not in MEMO:
                todo[key] = (endpoint, body)
    if todo:
        with multiprocessing.get_context("fork").Pool(4) as pool:
            MEMO.update(zip(todo, pool.starmap(body_stats, todo.values())))


def epoch_stats(name):
    """Per-epoch totals: requests and body bytes per endpoint; records,
    duplicate ids and digest per record kind (events, merges, profiles)."""
    out = {"requests": Counter(), "gzip_bytes": 0, "raw_bytes": 0,
           "records": Counter(), "dup_ids": Counter(), "digest": Counter()}
    ids = {}
    for endpoint, body in BODIES.get(name, []):
        raw_len, kinds = MEMO[(endpoint, hashlib.sha256(body).digest())]
        out["requests"][endpoint] += 1
        out["gzip_bytes"] += len(body)
        out["raw_bytes"] += raw_len
        for kind, (dig, keys) in kinds.items():
            out["records"][kind] += len(keys)
            out["digest"][kind] = (out["digest"][kind] + dig) % (1 << 64)
            seen = ids.setdefault(kind, set())
            before = len(seen)
            seen.update(keys)
            out["dup_ids"][kind] += len(keys) - (len(seen) - before)
    return out


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    # Replies go out as a header write and a body write; with Nagle on, the
    # body waits for the client's delayed ACK (about 40 ms per request).
    disable_nagle_algorithm = True

    def log_message(self, *args):
        pass

    def reply(self, code, payload, ctype="application/json"):
        body = payload if isinstance(payload, bytes) else \
            json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        if url.path == "/api/2/export":
            f = os.path.join(EXPORT_DIR, f"{q.get('start', '')}.zip")
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    self.reply(200, fh.read(), "application/zip")
            else:
                self.reply(404, {"error": "no data"})
        elif url.path == "/__stats":
            names = q["names"].split(",")
            parse_new_bodies(names)
            self.reply(200, {n: epoch_stats(n) for n in names})
        elif url.path == "/__cpu":
            switch_epoch(STATE["epoch"])
            self.reply(200, dict(CPU))
        else:
            self.reply(404, {"error": "not found"})

    def do_POST(self):
        url = urlparse(self.path)
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if url.path in ("/import", "/engage"):
            with LOCK:
                BODIES.setdefault(STATE["epoch"], []).append(
                    (url.path[1:], body))
            if url.path == "/import":
                self.reply(200, {"code": 200, "status": "OK"})
            else:
                self.reply(200, {"error": None, "status": 1})
        elif url.path == "/__epoch":
            switch_epoch(parse_qs(url.query)["name"][0])
            self.reply(200, {"ok": True})
        elif url.path == "/__shutdown":
            self.reply(200, {"ok": True})
            threading.Thread(target=self.server.shutdown).start()
        else:
            self.reply(404, {"error": "not found"})


def main():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    print(f"PORT {srv.server_address[1]}", flush=True)
    srv.serve_forever()
    srv.server_close()


if __name__ == "__main__":
    main()
