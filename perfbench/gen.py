"""Seeded input generator for the benchmark workloads.

Runs before any timing starts and writes files only; the program under test
sees nothing but these files. The same (workload, seed, size) always yields
byte-identical files, and `fingerprint` hashes them for the result record.

  cdc_mixed: Canal JSON event files, one file per micro-batch
    (`events/batchNNNN.json`), plus the generator's own final per-table
    state (`truth/<table>.jsonl`), kept as an independent cross-check of the
    program's `CanalStream.materialize`.
  etl_bulk: an orders-shaped parquet source (`source/part-N.parquet`).
  llm_curation: `documents.parquet` and `embeddings.parquet` in the corpus
    layout the query registry reads.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
STATUS_LABELS = ["NEW", "PAID", "SHIPPED", "CLOSED"]
CITIES = ["lisbon", "osaka", "lagos", "quito", "perth", "oslo", "pune", "lima"]


def _write_events(out_dir, batches):
    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(ev_dir)
    for b, lines in enumerate(batches):
        with open(os.path.join(ev_dir, "batch%04d.json" % b), "w") as f:
            f.write("\n".join(json.dumps(e, separators=(",", ":")) for e in lines))
            f.write("\n")


def _write_truth(out_dir, table, state, columns):
    os.makedirs(os.path.join(out_dir, "truth"), exist_ok=True)
    with open(os.path.join(out_dir, "truth", table + ".jsonl"), "w") as f:
        for key in sorted(state):
            row = state[key]
            f.write(json.dumps({c: row.get(c) for c in columns}, separators=(",", ":")))
            f.write("\n")


def _event(table, typ, es, data, old=None, sql=None, is_ddl=False):
    return {"destination": "bench", "groupId": "g1", "database": "benchdb",
            "table": table, "type": typ, "isDdl": is_ddl, "sql": sql,
            "es": es, "ts": es, "data": data, "old": old}


class _Fanout:
    """A plain table: uniform keys, 80% INSERT / 20% UPDATE, three string
    columns, no DDL."""
    columns = ["id", "s1", "s2"]

    def __init__(self, name, rng, keyspace):
        self.name, self.rng, self.keyspace, self.state = name, rng, keyspace, {}

    def event(self, es, rows):
        rng, live = self.rng, self.state
        update = bool(live) and rng.random() < 0.2
        if update:
            pool = list(live)
            keys = [pool[i] for i in rng.choice(len(pool), size=min(rows, len(pool)),
                                                replace=False)]
        else:
            keys = rng.choice(self.keyspace, size=rows, replace=False).tolist()
        data, old = [], []
        for k in keys:
            row = {"id": str(k), "s1": WORDS[int(rng.integers(len(WORDS)))],
                   "s2": "v%d_%d" % (es, k)}
            if update:
                old.append({"s2": live[k]["s2"]})
            live[k] = row
            data.append(row)
        return _event(self.name, "UPDATE" if update else "INSERT", es, data,
                      old if update else None)


class _Hot:
    """The hot table: ten typed columns, Zipf-skewed keys over a small key
    space, ~60% INSERT / 30% UPDATE (about 3% of them change the PK) / 10%
    DELETE. INSERT of a live key and UPDATE of an absent key are upserts and
    DELETE of an absent key is a no-op, in this state exactly as in the
    sink."""
    name = "orders_hot"
    base = ["id", "name", "qty", "price", "created", "status", "score", "city",
            "flag", "note"]

    def __init__(self, rng, keyspace, zipf_s=1.1):
        self.rng, self.keyspace, self.state, self.extras = rng, keyspace, {}, []
        w = 1.0 / np.arange(1, keyspace + 1) ** zipf_s
        self.weights = w / w.sum()
        self.rank_to_key = rng.permutation(keyspace)

    @property
    def columns(self):
        return self.base + self.extras

    def ddl(self, es):
        col = "extra%d" % (len(self.extras) + 1)
        self.extras.append(col)
        return _event(self.name, "ALTER", es, None,
                      sql="ALTER TABLE %s ADD COLUMN %s INT" % (self.name, col), is_ddl=True)

    def _row(self, key, es):
        rng = self.rng
        row = {
            "id": str(key),
            "name": "n%d" % int(rng.integers(100000)),
            "qty": str(int(rng.integers(-50, 5000))),
            "price": "%d.%02d" % (int(rng.integers(0, 100000)), int(rng.integers(100))),
            "created": "2024-%02d-%02d %02d:%02d:%02d" % (
                int(rng.integers(1, 13)), int(rng.integers(1, 29)), int(rng.integers(24)),
                int(rng.integers(60)), int(rng.integers(60))),
            "status": str(int(rng.integers(1, len(STATUS_LABELS) + 1))),
            "score": "%.4f" % float(rng.random() * 100),
            "city": CITIES[int(rng.integers(len(CITIES)))],
            "flag": str(int(rng.integers(2))),
            "note": "e%d" % es,
        }
        for x in self.extras:
            row[x] = str(int(rng.integers(1000)))
        return row

    def event(self, es, rows):
        rng, state = self.rng, self.state
        u = rng.random()
        typ = "INSERT" if u < 0.6 else ("UPDATE" if u < 0.9 else "DELETE")
        keys = self.rank_to_key[rng.choice(self.keyspace, size=rows, p=self.weights)]
        data, old = [], []
        for k in keys.tolist():
            if typ == "DELETE":
                data.append(dict(state.pop(k, None) or self._row(k, es)))
                continue
            if typ == "UPDATE" and rng.random() < 0.03:
                new_key = int(rng.integers(self.keyspace, 2 * self.keyspace))
                row = self._row(new_key, es)
                state.pop(k, None)
                old.append({"id": str(k)})
                state[new_key] = row
            else:
                row = self._row(k, es)
                if typ == "UPDATE":
                    prev = state.get(k)
                    old.append({"name": prev["name"]} if prev else {})
                state[k] = row
            data.append(row)
        return _event(self.name, typ, es, data, old if typ == "UPDATE" else None)


def gen_cdc(out_dir, seed, batches, fanout_tables, fanout_events, fanout_rows,
            fanout_keyspace, hot_events, hot_rows, hot_keyspace, ddl_every):
    """One Canal stream over `fanout_tables` plain tables and the hot table.
    Every micro-batch touches every table; every `ddl_every`-th batch,
    starting with the first, carries an `ALTER TABLE ... ADD COLUMN` on the
    hot table in the middle of its events. `warmup/` holds a copy of the
    first batch for the set-up drain."""
    rng = np.random.default_rng(seed)
    fan = [_Fanout("t%02d" % i, rng, fanout_keyspace) for i in range(fanout_tables)]
    hot = _Hot(rng, hot_keyspace)
    es = 1
    out = []
    for b in range(batches):
        lines = []
        for _ in range(fanout_events):
            for t in fan:
                lines.append(t.event(es, fanout_rows))
                es += 1
        for e in range(hot_events):
            if e == hot_events // 2 and b % ddl_every == 0:
                lines.append(hot.ddl(es))
                es += 1
            lines.append(hot.event(es, hot_rows))
            es += 1
        out.append(lines)
    _write_events(out_dir, out)
    os.makedirs(os.path.join(out_dir, "warmup"))
    shutil.copy(os.path.join(out_dir, "events", "batch0000.json"),
                os.path.join(out_dir, "warmup", "batch0000.json"))
    for t in fan + [hot]:
        _write_truth(out_dir, t.name, t.state, t.columns)
    return {"tables": [t.name for t in fan + [hot]], "hot_table": hot.name,
            "batches": batches, "ddl_events": len(hot.extras),
            "rows": sum(len(e["data"] or []) for b in out for e in b)}


def gen_etl(out_dir, seed, rows, files):
    """Orders-shaped source: unique bigint key, TIMESTAMP, double, an enum
    code and free text. The key order is shuffled so the import's rows
    arrive unsorted, as from a heap table."""
    rng = np.random.default_rng(seed)
    src = os.path.join(out_dir, "source")
    os.makedirs(src)
    keys = rng.permutation(rows).astype(np.int64) + 1
    base = np.datetime64("2020-01-01T00:00:00", "us")
    secs = rng.integers(0, 4 * 365 * 86400, size=rows)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    comments = [" ".join(WORDS[int(i)] for i in rng.integers(len(WORDS), size=5))
                for _ in range(rows)]
    table = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15000, size=rows), pa.int64()),
        "o_status": pa.array(rng.integers(1, 4, size=rows).astype(np.int32), pa.int32()),
        "o_totalprice": pa.array(np.round(rng.random(rows) * 500000, 2), pa.float64()),
        "o_orderdate": pa.array(base + secs.astype("timedelta64[s]"),
                                pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(prio[rng.integers(len(prio), size=rows)], pa.string()),
        "o_comment": pa.array(comments, pa.string()),
    })
    step = (rows + files - 1) // files
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(src, "part-%d.parquet" % i))
    return {"rows": rows}


def gen_corpus(out_dir, seed, docs, vecs):
    """Documents over a 31-word vocabulary in five languages, ~10% of them
    near-duplicates of an earlier document, and unit-norm 64-d embeddings
    drawn around ten labelled centres. Near-duplicates copy a document of
    at least 60 words with one word replaced and one appended, so their
    3-shingle Jaccard similarity (~0.9) sits well above the 0.8 threshold:
    MinHash-LSH estimates similarity, the DuckDB oracle computes it exactly,
    and pairs near the threshold may legitimately fall on either side."""
    rng = np.random.default_rng(seed)
    langs = ["en", "en", "fr", "es", "zh", "de"]
    texts = []
    for i in range(docs):
        src = texts[int(rng.integers(i))].split(" ") if i > 20 and rng.random() < 0.1 else []
        if len(src) >= 60:
            words = src
            words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[int(j)] for j in rng.integers(len(WORDS), size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[int(j)] for j in rng.integers(len(langs), size=docs)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(10, size=vecs)
    v = centres[labels] + rng.normal(scale=0.9, size=(vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": docs + vecs}


def fingerprint(root):
    """SHA-256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
