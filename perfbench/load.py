"""Load process of the `ods-to-rest` workload.

One OS process, separate from the engine JVM, with four threads at most
(this scheduler plus three request workers). It

  1. waits for the engine to start serving, then writes primer files,
     which the engine drains while it sets up,
  2. on the engine's signal, stages a backlog of `topic_log` files (the
     catch-up input),
  3. on the engine's signal, runs the live phase on a fixed schedule that
     never waits for the engine: a `topic_log` file every FILE_EVERY_S,
     and an open-loop stream of REST requests at REQ_PER_S,
  4. keeps polling the page store until every live file is visible, then
     writes `<work>/load.json` and signals the engine.

Every event line is re-stamped with its file's creation time. Request
latency is timed from when the request was due, not from when it was
sent, so a stall counts against every request it delays.

    python3 perfbench/load.py --work <dir> --pools <dir> --seed <n> --seconds <s>
"""
import argparse
import concurrent.futures
import json
import os
import random
import threading
import time
import http.client

PRIMER_LOG_FILES = 16
BACKLOG_FILES = 48
LOG_LINES_PER_FILE = 8
DB_ORDERS_PER_FILE = 60  # the one primer topic_db file
MATCHED_ORDERS = 10
FILE_EVERY_S = 0.25  # live: one topic_log file per tick
REQ_PER_S = 25.0
WORKERS = 3
PAGE, PROVINCE = "/api/query/perfbench_ads_page", "/api/query/perfbench_ads_province"
SUGAR = ["/gmall/realtime/traffic/uvCt", "/api/sugar/ch"]
# fixed request mix, cycled: 40% page store, 20% province store, 40% sugar
MIX = [PAGE, SUGAR[0], PAGE, PROVINCE, SUGAR[1], PAGE, SUGAR[0], PAGE, PROVINCE, SUGAR[1]]


def wait_for(path, limit_s):
    t0 = time.monotonic()
    while not os.path.exists(path):
        if time.monotonic() - t0 > limit_s:
            raise SystemExit(f"load: timed out waiting for {path}")
        time.sleep(0.01)


def write_atomically(path, text):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def order_key(env):
    data = env.get("data") or {}
    if "order_id" in data:
        return data["order_id"]
    if env.get("table") == "order_info":
        return data.get("id")
    return None


def fully_matched(group):
    """True if some order detail of this order has an activity and a coupon row."""
    def details(table):
        return {(e.get("data") or {}).get("order_detail_id") for e in group if e.get("table") == table}
    return bool(details("order_detail_activity") & details("order_detail_coupon") - {None})


class Feed:
    """Seeded line source: log events one by one, CDC envelopes in whole
    orders (every envelope of one order lands in the same file)."""

    def __init__(self, pools, rng):
        with open(os.path.join(pools, "pool_log.jsonl")) as f:
            self.log = [json.loads(line) for line in f if line.strip()]
        groups = {}
        with open(os.path.join(pools, "pool_db.jsonl")) as f:
            for i, line in enumerate(f):
                if line.strip():
                    env = json.loads(line)
                    groups.setdefault(order_key(env) or f"_{i}", []).append(env)
        self.db = [sorted(g, key=lambda e: e.get("ts", 0)) for _, g in sorted(groups.items())]
        rng.shuffle(self.log)
        rng.shuffle(self.db)
        # the primer leads with orders that have a detail with both its
        # activity and its coupon row, so the trade store is never empty
        matched = [g for g in self.db if fully_matched(g)][:MATCHED_ORDERS]
        self.db = matched + [g for g in self.db if not any(g is m for m in matched)]
        self.li = self.di = 0

    def log_file(self, now_ms):
        lines, pages = [], 0
        for _ in range(LOG_LINES_PER_FILE):
            ev = dict(self.log[self.li % len(self.log)])
            self.li += 1
            shift = now_ms - ev["ts"]
            ev["ts"] = now_ms
            if ev.get("actions"):
                ev["actions"] = [dict(a, ts=a["ts"] + shift) for a in ev["actions"]]
            if "err" not in ev and "start" not in ev:
                pages += 1
            lines.append(json.dumps(ev, separators=(",", ":"), ensure_ascii=False))
        return "\n".join(lines) + "\n", pages

    def db_file(self, now_s):
        lines = []
        for _ in range(DB_ORDERS_PER_FILE):
            for env in self.db[self.di % len(self.db)]:
                lines.append(json.dumps(dict(env, ts=now_s), separators=(",", ":"), ensure_ascii=False))
            self.di += 1
        return "\n".join(lines) + "\n", len(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--pools", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    ctl = os.path.join(a.work, "ctl")
    # topic_log is read through a glob over its subdirectories, so a whole
    # staged backlog appears with one directory rename
    log_root = os.path.join(a.work, "ods", "topic_log")
    live_dir = os.path.join(log_root, "live")
    db_dir = os.path.join(a.work, "ods", "topic_db")

    wait_for(os.path.join(ctl, "server.json"), 150)
    port = json.load(open(os.path.join(ctl, "server.json")))["port"]
    feed = Feed(a.pools, random.Random(a.seed))
    seq = {"log": 0, "db": 0}
    files = []  # live files: name, due, created, cumulative pages
    totals = {"pages": 0, "log_events": 0, "db_events": 0}

    def write_files(due, to_dir, with_db=False):
        now = time.time()
        text, pages = feed.log_file(int(now * 1000))
        name = f"log-{seq['log']:05d}.jsonl"
        write_atomically(os.path.join(to_dir, name), text)
        totals["pages"] += pages
        totals["log_events"] += LOG_LINES_PER_FILE
        if with_db:
            dtext, n = feed.db_file(int(now))
            write_atomically(os.path.join(db_dir, f"db-{seq['db']:05d}.jsonl"), dtext)
            seq["db"] += 1
            totals["db_events"] += n
        seq["log"] += 1
        return {"name": name, "due": due, "created": now, "cum_pages": totals["pages"]}

    # primer, drained while the engine sets up: one topic_db file and two
    # micro-batches' worth of topic_log files, which also warm the log
    # leg's code paths before catch-up is timed
    os.makedirs(os.path.join(log_root, "primer"))
    os.makedirs(live_dir)
    for i in range(PRIMER_LOG_FILES):
        write_files(time.time(), os.path.join(log_root, "primer"), with_db=i == 0)
    write_atomically(os.path.join(ctl, "primer.done"), "{}")
    # the backlog is written aside and renamed in at once, so the first
    # catch-up micro-batch never starts on a half-visible backlog
    staging = os.path.join(a.work, "staging")
    os.makedirs(staging)
    before = dict(totals)
    for _ in range(BACKLOG_FILES):
        write_files(time.time(), staging)
    backlog = {k: totals[k] - before[k] for k in totals}
    wait_for(os.path.join(ctl, "catchup.go"), 150)
    os.rename(staging, os.path.join(log_root, "backlog"))
    write_atomically(os.path.join(ctl, "backlog.done"), json.dumps(backlog))
    wait_for(os.path.join(ctl, "live.go"), 150)

    lock = threading.Lock()
    requests = []
    visible = {"pages": totals["pages"] - 1}

    def request(route, due, record):
        # a fresh connection per request, closed by the server after the
        # reply: with keep-alive the server's separate header and body
        # writes meet delayed ACKs and add about 40 ms to every request
        ok, body, pv = False, None, None
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        try:
            conn.request("GET", f"{route}?limit=1000", headers={"Connection": "close"})
            r = conn.getresponse()
            body = r.read().decode("utf-8")
            ok = r.status == 200 and json.loads(body).get("status") == 0
            if ok and route == PAGE:
                pv = sum(row["pv_ct"] for row in json.loads(body)["rows"])
        except Exception:
            ok = False
        finally:
            conn.close()
        done = time.time()
        with lock:
            if pv is not None and pv > visible["pages"]:
                visible["pages"] = pv
                for f in files:
                    if "visible" not in f and f["cum_pages"] <= pv:
                        f["visible"] = done
            if record:
                requests.append({"route": route, "due": due, "done": done, "ok": ok,
                                 "body_hash": hash(body)})

    pool = concurrent.futures.ThreadPoolExecutor(max_workers=WORKERS)
    t0 = time.time()
    next_file, next_req, j = t0, t0, 0
    backlog_max = 0
    lateness_ms = []
    while True:
        due = min(next_file, next_req)
        if due >= t0 + a.seconds:
            break
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        lateness_ms.append((time.time() - due) * 1000)
        if next_file <= next_req:
            f = write_files(next_file, live_dir)
            with lock:
                files.append(f)
                backlog_max = max(backlog_max, sum(1 for x in files if "visible" not in x))
            next_file += FILE_EVERY_S
        else:
            pool.submit(request, MIX[j % len(MIX)], next_req, True)
            j += 1
            next_req = t0 + j / REQ_PER_S
    # tail: poll the page store (unrecorded) until every live file is visible
    tail_end = time.time() + 20
    while time.time() < tail_end:
        with lock:
            if all("visible" in f for f in files):
                break
        pool.submit(request, PAGE, time.time(), False).result()
        time.sleep(0.05)
    pool.shutdown(wait=True)

    out = {"backlog": backlog, "totals": totals, "files": files, "requests": requests,
           "lateness_ms": lateness_ms, "backlog_files_max": backlog_max,
           "live_s": a.seconds}
    with open(os.path.join(a.work, "load.json"), "w") as f:
        json.dump(out, f)
    write_atomically(os.path.join(ctl, "live.done"), "{}")


if __name__ == "__main__":
    main()
