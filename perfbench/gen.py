#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads (DuckDB only).

Every table has the schema, parquet physical types and value distributions of
the sf0.1 bench fixture: TPC-H-style `nation`/`customer`/`orders`,
an `events` stream table (Poisson arrivals over 30 days, 5 event types,
exponential values) and a `documents` corpus (10-100 words drawn from a
30-word vocabulary, 5 % near-duplicates carrying a trailing " dup"). Values
come from a hash of (seed, table, row, field), so one seed always yields the
same bytes; no input is read from outside the output directory.

Workloads:
  labs-batch       one sf0.1-sized copy of the tables the lab DAGs read.
  labs-stream      `static/` holds the events and documents tables; `feed/`
                   holds the same events (--hours of them at sf0.1 density,
                   plus a fixed surge schedule) split into one file per
                   simulated hour. feed/events.parquet is hour 0 (the lab
                   reads its schema from that name); hour h > 0 is
                   events_hNNNN.parquet.

Usage: python3 gen.py --workload W --seed N --out DIR
Writes DIR/manifest.json with row counts, file counts and the clone share.
"""
import argparse
import json
import os

import duckdb

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sf0.1 row counts of the fixture, except the corpus: half of sf0.1's 5000
# documents keeps one run (IVF build, q161 value gate) inside its time budget
N_CUSTOMER, N_ORDERS, N_EVENTS, N_DOCS = 15_000, 150_000, 100_000, 2_500
EVENT_DAYS = 30
STREAM_DENSITY = N_EVENTS // (EVENT_DAYS * 24)  # sf0.1 events per hour (138)


def lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


class Gen:
    def __init__(self, seed, out):
        self.seed = int(seed)
        self.out = out
        self.con = duckdb.connect()
        # one thread: parquet row-group boundaries and row order are then a
        # pure function of the SQL, so a seed reproduces the same bytes
        self.con.execute("SET threads TO 1")
        self.con.execute(f"SET temp_directory = '{out}/.duckdb_tmp'")
        self.counts = {}

    def u(self, tag, *cols):
        """Uniform [0, 1) from a hash of the string "seed|tag|cols...".

        One string hash, not DuckDB's multi-argument hash: that combines
        per-argument hashes so weakly that two tags over the same row come
        out correlated."""
        args = " || '|' || ".join([f"'{self.seed}|{tag}'"] + [f"({c})::VARCHAR" for c in cols])
        return f"((hash({args}) >> 11)::DOUBLE / 9007199254740992.0)"

    def pick(self, xs, tag, *cols):
        return f"({lst(xs)})[1 + floor({self.u(tag, *cols)} * {len(xs)})::INT]"

    def copy(self, sql, path, rgs, record=True):
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {rgs})")
        n = self.con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        if record:
            self.counts[os.path.relpath(path, self.out)] = n
        return n

    # ---------------------------------------------------------------- tables
    def nation(self):
        return ("SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
                "(i % 5)::INT AS n_regionkey FROM range(25) t(i)")

    def customer(self):
        return (f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                f"floor({self.u('c.n', 'i')} * 25)::INT AS c_nationkey, "
                f"round(-999.99 + {self.u('c.b', 'i')} * 10999.79, 2) AS c_acctbal, "
                f"{self.pick(SEGMENTS, 'c.s', 'i')} AS c_mktsegment "
                f"FROM range({N_CUSTOMER}) t(i)")

    def orders(self):
        return (f"SELECT i AS o_orderkey, floor({self.u('o.c', 'i')} * {N_CUSTOMER})::BIGINT AS o_custkey, "
                f"{self.pick(['O', 'F', 'P'], 'o.s', 'i')} AS o_orderstatus, "
                f"round(1000.0 + {self.u('o.p', 'i')} * 499000.0, 2) AS o_totalprice, "
                f"TIMESTAMP '1995-01-01' + to_days(floor({self.u('o.d', 'i')} * 2404)::INT) AS o_orderdate, "
                f"{self.pick(PRIORITIES, 'o.r', 'i')} AS o_orderpriority "
                f"FROM range({N_ORDERS}) t(i)")

    def events(self, n, seconds, surges=False):
        # Poisson arrivals: n uniform instants, sorted, ids in time order
        rows = (f"SELECT i, floor({self.u('e.t', 'i')} * {seconds}e6)::BIGINT AS off, "
                f"floor({self.u('e.u', 'i')} * 1500)::BIGINT AS user_id, "
                f"{self.pick(EVENT_TYPES, 'e.k', 'i')} AS event_type, "
                f"round(-50.0 * ln(1.0 - {self.u('e.v', 'i')}), 2) AS value, "
                f"'{{\"k\": ' || floor({self.u('e.p', 'i')} * 100)::INT || '}}' AS props "
                f"FROM range({n}) t(i)")
        if surges:
            rows += " UNION ALL " + self.surges(n, seconds)
        return (f"SELECT (row_number() OVER (ORDER BY off, i) - 1)::BIGINT AS event_id, "
                f"CAST(TIMESTAMP '2024-01-01' + to_microseconds(off) AS TIMESTAMP_NS) AS ts, "
                f"user_id, event_type, value, props FROM ({rows}) ORDER BY event_id")

    def surges(self, n, seconds):
        """A fixed surge schedule, as the reference lab4 generator spikes one
        city: a surge gives one city four times its usual events in a 6-hour
        window. Each city k surges first in window 2 + 2k, then one city in
        turn every tenth window from window 12 on. The first round widens
        every city's detector band before any window can be flagged, so the
        flagged windows are the scheduled ones and every seed judges the same
        spikes (two in the live phase)."""
        extra = 3 * STREAM_DENSITY * 6 // len(EVENT_TYPES)
        c = len(EVENT_TYPES)
        return (f"SELECT {n} + w * {extra} + j AS i, "
                f"(w * 21600 + floor({self.u('s.t', 'w', 'j')} * 21600))::BIGINT * 1000000 AS off, "
                f"floor({self.u('s.u', 'w', 'j')} * 1500)::BIGINT AS user_id, "
                f"({lst(EVENT_TYPES)})[CASE WHEN w < 12 THEN (w - 2) // 2 ELSE (w // 10) % {c} END + 1] "
                f"AS event_type, "
                f"round(-50.0 * ln(1.0 - {self.u('s.v', 'w', 'j')}), 2) AS value, "
                f"'{{\"k\": ' || floor({self.u('s.p', 'w', 'j')} * 100)::INT || '}}' AS props "
                f"FROM range({seconds // 21600}) a(w), range({extra}) c(j) "
                f"WHERE (w < 12 AND w >= 2 AND w % 2 = 0) OR (w >= 12 AND w % 10 = 2)")

    def documents(self):
        words = (f"SELECT i, j, ({lst(VOCAB)})[1 + floor({self.u('d.w', 'i', 'j')} * {len(VOCAB)})::INT] AS w "
                 f"FROM (SELECT i, 10 + floor({self.u('d.n', 'i')} * 91)::INT AS n FROM range({N_DOCS}) t(i)) d, "
                 f"range(100) r(j) WHERE j < n")
        base = f"SELECT i, string_agg(w, ' ' ORDER BY j) AS text FROM ({words}) GROUP BY i"
        # 5 % near-duplicates: another document's text plus " dup"
        return (f"WITH b AS ({base}) "
                f"SELECT b.i AS doc_id, CASE WHEN {self.u('d.d', 'b.i')} < 0.05 "
                f"THEN s.text || ' dup' ELSE b.text END AS text, "
                f"CASE WHEN {self.u('d.l', 'b.i')} < 0.41 THEN 'en' "
                f"ELSE {self.pick(['es', 'fr', 'zh', 'de'], 'd.g', 'b.i')} END AS lang, "
                f"'src' || (b.i % 20) AS source FROM b JOIN b s "
                f"ON s.i = floor({self.u('d.s', 'b.i')} * {N_DOCS})::BIGINT")

    def table(self, name, sql):
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")

    def write_docs(self, path, sql):
        return self.copy(f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars "
                         f"FROM ({sql}) ORDER BY doc_id", path, 1024)

    def clone_share(self, path):
        n, d = self.con.execute(f"SELECT count(*), count(DISTINCT text) FROM read_parquet('{path}')").fetchone()
        return (n - d) / n

    # ------------------------------------------------------------- workloads
    def labs_batch(self):
        o = self.out
        self.copy(self.nation(), f"{o}/nation.parquet", 122880)
        self.copy(self.customer(), f"{o}/customer.parquet", 4096)
        self.copy(self.orders(), f"{o}/orders.parquet", 32768)
        self.copy(self.events(N_EVENTS, EVENT_DAYS * 86400), f"{o}/events.parquet", 16384)
        self.write_docs(f"{o}/documents.parquet", self.documents())
        return {"clone_share": self.clone_share(f"{o}/documents.parquet")}

    def labs_stream(self, hours):
        st, feed = f"{self.out}/static", f"{self.out}/feed"
        os.makedirs(st)
        os.makedirs(feed)
        self.table("ev", self.events(hours * STREAM_DENSITY, hours * 3600, surges=True))
        self.copy("SELECT * FROM ev", f"{st}/events.parquet", 16384)
        self.write_docs(f"{st}/documents.parquet", self.documents())
        # one COPY per hour file; row counts and newest event per hour come
        # from a single aggregate over the replay
        per_hour = self.con.execute(
            "SELECT h, count(*), max(epoch_us(CAST(ts AS TIMESTAMP))) FROM ("
            "SELECT (epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(TIMESTAMP '2024-01-01')) "
            "// 3600000000 AS h, ts FROM ev) GROUP BY h ORDER BY h").fetchall()
        assert [h for h, _, _ in per_hour] == list(range(hours)), "an hour without events"
        hours = []
        for h, rows, newest in per_hour:
            name = "events.parquet" if h == 0 else f"events_h{h:04d}.parquet"
            lo = f"TIMESTAMP '2024-01-01' + INTERVAL {h} HOUR"
            self.con.execute(
                f"COPY (SELECT * FROM ev WHERE ts >= {lo} AND ts < {lo} + INTERVAL 1 HOUR "
                f"ORDER BY event_id) TO '{feed}/{name}' (FORMAT PARQUET)")
            hours.append({"file": name, "rows": rows, "newest_us": newest})
        self.counts["feed/*.parquet"] = sum(h["rows"] for h in hours)
        return {"clone_share": self.clone_share(f"{st}/documents.parquet"),
                "feed_files": len(hours), "hours": hours}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["labs-batch", "labs-stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--hours", type=int, default=480, help="labs-stream replay length")
    a = ap.parse_args()
    os.makedirs(a.out)
    g = Gen(a.seed, a.out)
    extra = g.labs_stream(a.hours) if a.workload == "labs-stream" else g.labs_batch()
    manifest = {"workload": a.workload, "seed": a.seed, "rows": g.counts,
                "files": len(g.counts), **extra}
    with open(f"{a.out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in manifest.items() if k != "hours"}, sort_keys=True))


if __name__ == "__main__":
    main()
