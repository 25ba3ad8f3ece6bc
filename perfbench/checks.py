"""Output checks: landed tables and reads against the block generator's
ground truth, and query results against their DuckDB oracle SQL.

Every check returns a list of human-readable problems; empty means correct.
"""

import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

STATS_BY_CLASS = {
    "sol_transfers": ["SOL Transfer"],
    "spl_token_transfers": ["SPL Token Transfer"],
    "dex_swaps": ["DEX Swap"],
    "nft_operations": ["NFT Mint", "NFT Transfer"],
    "program_interactions": ["Program Interaction"],
    "unknown_transactions": ["Unknown"],
}


def _rows(con, table_dir, columns):
    """Sorted rows of a (partitioned) parquet table; [] when it has no files."""
    files = glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    return sorted(con.execute("SELECT %s FROM read_parquet(?, hive_partitioning = false)"
                              % columns, [files]).fetchall())


def expected(truth, landed_slots):
    """Ground truth restricted to the produced slots a table should hold."""
    slots = {s: v for s, v in truth["slots"].items() if s in landed_slots and v["well_formed"]}
    txs = [t for t in truth["txs"] if t[1] in slots]
    return slots, txs


def check_landed(table_dir, truth, landed_slots):
    """The blocks and transactions tables under `table_dir` hold exactly the
    well-formed blocks of `landed_slots`: one row per slot and per signature,
    every transaction classified as generated, and `parent_slot` null exactly
    where the parent block is not in the table."""
    slots, txs = expected(truth, landed_slots)
    con = duckdb.connect()
    problems = []
    got = _rows(con, os.path.join(table_dir, "transactions"),
                "signature, block_slot, transaction_index, transaction_type, success, fee")
    want = sorted(txs)
    if len(got) != len(want):
        problems.append("transactions: %d rows landed, %d expected" % (len(got), len(want)))
    if len({g[0] for g in got}) != len(got):
        problems.append("transactions: duplicate signatures")
    if got != want:
        hist = lambda rows: sorted(_histogram(rows).items())
        if hist(got) != hist(want):
            problems.append("transactions: class histogram %s != %s" % (hist(got), hist(want)))
        else:
            problems.append("transactions: rows differ from the generated transactions")
    got_b = _rows(con, os.path.join(table_dir, "blocks"), "slot, blockhash, parent_slot")
    want_b = sorted((s, v["blockhash"], v["parent"] if v["parent"] in slots else None)
                    for s, v in slots.items())
    if len({b[0] for b in got_b}) != len(got_b):
        problems.append("blocks: duplicate slots")
    if got_b != want_b:
        nulls = lambda rows: sum(1 for r in rows if r[2] is None)
        problems.append("blocks: %d rows (%d null parents), expected %d (%d null parents)"
                        % (len(got_b), nulls(got_b), len(want_b), nulls(want_b)))
    return problems


def _histogram(txs):
    h = {}
    for t in txs:
        h[t[3]] = h.get(t[3], 0) + 1
    return h


def check_read(read, txs):
    """One read-phase result against the transactions the read table holds."""
    kind, res = read["kind"], read["result"]
    if kind == "point_lookup":
        want = [[t[1], t[2], t[3], t[4], t[5]] for t in txs if t[0] == read["arg"]]
        ok = res == want and len(want) == 1
    elif kind == "range_scan":
        lo = int(read["arg"])
        hit = [t for t in txs if lo <= t[1] <= lo + 9]
        ok = bool(hit) and res == {"rows": len(hit), "fees": sum(t[5] for t in hit)}
    elif kind == "type_histogram":
        ok = res == [[k, v] for k, v in sorted(_histogram(txs).items())]
    elif kind == "extraction_stats":
        h = _histogram(txs)
        want = {
            "total_transactions": len(txs),
            "successful_transactions": sum(1 for t in txs if t[4]),
            "failed_transactions": sum(1 for t in txs if not t[4]),
            "total_fees": sum(t[5] for t in txs),
        }
        want.update({k: sum(h.get(c, 0) for c in cs) for k, cs in STATS_BY_CLASS.items()})
        ok = all(res.get(k) == v for k, v in want.items()) and math.isclose(
            res.get("total_fees_sol") or 0.0, want["total_fees"] / 1e9, rel_tol=1e-12)
    else:
        ok = False
    return [] if ok else ["read %s(%s) returned a wrong result" % (kind, read["arg"])]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9) if not math.isnan(v) else "nan"
            rr.append(str(v))
        out.append(tuple(rr))
    return sorted(out)


def check_queries(sf_dir, dump_dir, names, oracles):
    """Each dumped query result equals its oracle SQL run in DuckDB over the
    same tables: same column names and types, same rows. Returns
    {query name: [problems]} for the queries that fail."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf_dir, t))
    failed = {}
    for name in names:
        path = os.path.join(dump_dir, name + ".parquet")
        sql = oracles.get(name)
        if sql is None:
            failed[name] = ["no oracle SQL"]
            continue
        if not glob.glob(os.path.join(path, "*.parquet")):
            failed[name] = ["no result dump"]
            continue
        try:
            got_sql = "SELECT * FROM read_parquet('%s/*.parquet')" % path
            got = con.execute(got_sql)
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
            exp = con.execute(sql)
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
            got_t = dict((r[0], r[1]) for r in con.execute("DESCRIBE " + got_sql).fetchall())
            exp_t = dict((r[0], r[1]) for r in con.execute("DESCRIBE " + sql).fetchall())
        except Exception as e:  # noqa: BLE001 - any engine error fails the query
            failed[name] = ["exception: %s" % e]
            continue
        if sorted(got_cols) != sorted(exp_cols):
            failed[name] = ["columns %s != %s" % (sorted(got_cols), sorted(exp_cols))]
        elif got_t != exp_t:
            failed[name] = ["types %s != %s" % (got_t, exp_t)]
        elif _canon(got_rows, got_cols) != _canon(exp_rows, exp_cols):
            failed[name] = ["%d rows differ from the oracle's %d" % (len(got_rows), len(exp_rows))]
    return failed
