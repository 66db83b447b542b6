"""Correctness gate, run after the timed region.

* Corpus: every query's last written result is compared with DuckDB
  replaying the query's oracle SQL over the same generated parquet:
  same column names, same DuckDB types, same row count and the same
  order-insensitive multiset digest. Oracle digests are cached per
  (oracle SQL, input files) under the build directory. An oracle whose
  recursive CTE ``cc(id, x)`` closes the LSH pair graph (q47, q50) is
  replayed with that closure computed by a Python union-find over the
  oracle's own ``edges``: the recursive CTE costs DuckDB about 8 s per
  query at sf0.1 and over 600 s at sf1.
* Lake: the job stream the harness actually ran is replayed into a
  DuckDB table (insert-or-replace by primary key, then the deletes);
  every read-after-write row count and the final table must match.

Each check returns the number of failed ops it attributes.
"""
import glob
import hashlib
import json
import os
import time

import duckdb
import pyarrow as pa


def open_db(tmp_dir):
    """An in-memory DuckDB that spills, if ever, under ``tmp_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def connect(input_dir, tmp_dir):
    con = open_db(tmp_dir)
    for t in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    return con


def digest(con, relation_sql):
    """(columns sorted, their types, row count, multiset digest) of a relation."""
    rel = con.sql(relation_sql)
    cols = sorted(rel.columns)
    sel = ", ".join(f'"{c}"' for c in cols)
    typed = con.sql(f"SELECT {sel} FROM ({relation_sql})")
    types = [str(t) for t in typed.types]
    enc = ", ".join(f'COALESCE(CAST("{c}" AS VARCHAR), chr(1))' for c in cols)
    row = f"hash(concat_ws(chr(2), {enc}))"
    n, s, x = con.sql(
        f"SELECT count(*), sum({row}::HUGEINT), bit_xor({row}) FROM ({relation_sql})").fetchone()
    return [cols, types, n, f"{s}:{x}"]


CC_HEAD = "cc(id, x) AS ("
CC_BODY = ("SELECT doc_id, doc_id FROM documents "
           "UNION SELECT cc.id, e.v FROM cc JOIN edges e ON cc.x = e.u")


def closure_rewrite(con, sql):
    """``sql`` with its recursive ``cc(id, x)`` CTE (every ``documents``
    row paired with each node reachable from it over ``edges``) replaced
    by the same rows from a union-find over the oracle's own edge set;
    ``sql`` unchanged if it has no CTE of exactly that form."""
    start = sql.find(CC_HEAD)
    if start < 0:
        return sql
    end, depth = start + len(CC_HEAD), 1
    while depth:
        depth += {"(": 1, ")": -1}.get(sql[end], 0)
        end += 1
    if " ".join(sql[start + len(CC_HEAD):end - 1].split()) != CC_BODY:
        return sql
    head = sql[:start].rstrip().rstrip(",")
    parent = {i: i for (i,) in con.sql("SELECT doc_id FROM documents").fetchall()}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for u, v in con.sql(head + "\nSELECT u, v FROM edges").fetchall():
        parent[root(u)] = root(v)
    members = {}
    for i in parent:
        members.setdefault(root(i), []).append(i)
    ids, xs = [], []
    for group in members.values():
        for i in group:
            ids += [i] * len(group)
            xs += group
    con.register("cc_closure", pa.table({"id": pa.array(ids, pa.int64()),
                                         "x": pa.array(xs, pa.int64())}))
    return head + ",\ncc AS (SELECT id, x FROM cc_closure)" + sql[end:]


def spark_result(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def file_sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def check_corpus(input_dir, results_dir, oracle_sql, op_counts, cache_dir, log):
    """Compares each query's result with its oracle; a mismatch fails every
    op of that query in the run."""
    con = connect(input_dir, results_dir)
    inputs = "".join(file_sha(p) for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))))
    os.makedirs(cache_dir, exist_ok=True)
    failed = 0
    for q in sorted(oracle_sql):
        sql = oracle_sql[q]
        key = hashlib.sha256(f"{sql}\n{inputs}".encode()).hexdigest()[:24]
        cache = os.path.join(cache_dir, f"{q}-{key}.json")
        try:
            got = digest(con, spark_result(os.path.join(results_dir, q)))
            if os.path.exists(cache):
                with open(cache) as f:
                    want = json.load(f)
            else:
                t0 = time.time()
                want = digest(con, closure_rewrite(con, sql))
                log(f"[check] {q}: oracle replayed in {time.time() - t0:.2f} s")
                with open(cache + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(cache + ".tmp", cache)
        except Exception as e:  # an unreadable result or a broken oracle fails the query
            got, want = None, f"error: {e}"
        if got != want:
            failed += op_counts.get(q, 1)
            log(f"[check] {q}: MISMATCH spark={got} oracle={want}")
    con.close()
    return failed


def check_lake(input_dir, final_table, lake_log, keys, log):
    """Replays the executed stream; returns failed-op count."""
    con = open_db(os.path.dirname(final_table))
    con.execute("""CREATE TABLE model (id BIGINT, grp BIGINT,
        amount DECIMAL(18,2), qty BIGINT, name VARCHAR, ts TIMESTAMP, batch BIGINT,
        line_len BIGINT)""")
    cols = {"id": "VARCHAR", "grp": "VARCHAR", "amount": "VARCHAR", "qty": "VARCHAR",
            "name": "VARCHAR", "ts": "VARCHAR", "batch": "VARCHAR"}
    failed = 0
    for kind, d, rows in lake_log:
        # an op that threw is already counted as failed by the harness; the
        # table must be unchanged by it
        if d.startswith("!"):
            continue
        if kind == "delete":
            con.execute(f"CREATE OR REPLACE TABLE model AS SELECT * FROM model WHERE id < {int(keys)}")
            continue
        if kind != "job":
            continue
        data = os.path.join(input_dir, d, "in", "tables", "items.csv")
        sliced = os.path.isdir(data)
        src = os.path.join(data, "*.csv") if sliced else data
        # insert-or-replace by primary key
        con.execute(f"""CREATE OR REPLACE TEMP TABLE job AS
            SELECT CAST(id AS BIGINT) AS id, CAST(grp AS BIGINT), CAST(amount AS DECIMAL(18,2)),
              CAST(qty AS BIGINT), name, CAST(ts AS TIMESTAMP), CAST(batch AS BIGINT),
              length(concat_ws(',', id, grp, amount, qty, name, ts, batch)) + 1
            FROM read_csv('{src}', header={'false' if sliced else 'true'},
              columns={json.dumps(cols)}, auto_detect=false)""")
        con.execute("""CREATE OR REPLACE TABLE model AS
            SELECT * FROM model WHERE id NOT IN (SELECT id FROM job)
            UNION ALL SELECT * FROM job""")
        n = con.sql("SELECT count(*) FROM model").fetchone()[0]
        if rows != n:
            failed += 1
            log(f"[check] lake read after {d}: {rows} rows, model has {n}")
    # the table's NUMERIC column is DECIMAL(38,9); every generated amount
    # has two decimals, so DECIMAL(18,2) is exact on both sides
    canon = ("SELECT id, grp, CAST(amount AS DECIMAL(18,2)) AS amount, qty, name, "
             "epoch_ms(ts) AS ts, batch FROM ")
    want = digest(con, canon + "model")
    live_bytes = con.sql("SELECT sum(line_len) FROM model").fetchone()[0] or 0
    try:
        got = digest(con, canon + f"read_parquet('{final_table}/*.parquet')")
    except Exception as e:
        got = f"error: {e}"
    if got != want:
        failed += 1
        log(f"[check] lake final table: MISMATCH table={got} model={want}")
    con.close()
    return failed, int(live_bytes)
