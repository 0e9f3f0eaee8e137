"""Correctness checks, run after the JVM has exited and outside every
timed window, plus the workload-named views of the measured samples.

Each check returns a list of failure strings; an empty list means the
outputs are correct.
  etl_ticks      row counts follow the fixture chain (block h carries h % 3
                 transactions, one input/output/output amount each, a second
                 input amount on even tx numbers) and the transaction hashes
                 are the chain's; the no-op tick writes no warehouse or
                 watermark file; every tick's Q7 is empty; every tick's Q6/Q8
                 equal DuckDB over the warehouse parquet cut at that tick's
                 last height.
  curation_stream  the admission decisions equal st23's oracle SQL in DuckDB
                 over the staged corpus, and every run returned the same ones.
"""
import hashlib
import json
import math
import statistics
from pathlib import Path

import duckdb

TABLES = ["cardano_blocks", "cardano_block_transactions", "cardano_transactions",
          "cardano_tx_output_amount", "cardano_tx_utxo", "cardano_tx_utxo_input",
          "cardano_tx_utxo_input_amount", "cardano_tx_utxo_output",
          "cardano_tx_utxo_output_amount"]

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if v is None:
        return "None"
    return str(v)


def _rows(con, sql):
    """Rows of a query, columns sorted by name, as sorted string tuples."""
    df = con.execute(sql).df()
    df = df[sorted(df.columns)]
    return sorted(tuple(_norm(v) for v in r) for r in df.itertuples(index=False)), list(df.columns)


def _compare(con, name, got_sql, want_sql):
    try:
        got, gc = _rows(con, got_sql)
        want, wc = _rows(con, want_sql)
    except duckdb.Error as e:
        return [f"{name}: {type(e).__name__}: {str(e)[:200]}"]
    if gc != wc:
        return [f"{name}: columns {gc} != {wc}"]
    if got != want:
        return [f"{name}: {len(got)} rows differ from the oracle's {len(want)}"]
    return []


def tx_hashes(h):
    """The fixture chain's transaction hashes of block h."""
    return [f"{h:012x}" + hashlib.sha256(f"tx:{h}:{i}".encode()).hexdigest()[:52]
            for i in range(h % 3)]


def check_etl(check_dir):
    info = json.loads((check_dir / "etl.json").read_text())
    wh = info["warehouse"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{wh}/{t}/*.parquet'")
    fails = []
    heights = range(info["start"], info["end"] + 1)
    txs = [x for h in heights for x in tx_hashes(h)]
    n_tx = len(txs)
    n_in_amt = sum(1 + (int(x[12:24], 16) % 2 == 0) for x in txs)
    expect = {"cardano_blocks": len(heights), "cardano_block_transactions": len(heights),
              "cardano_transactions": n_tx, "cardano_tx_output_amount": n_tx,
              "cardano_tx_utxo": n_tx, "cardano_tx_utxo_input": n_tx,
              "cardano_tx_utxo_input_amount": n_in_amt, "cardano_tx_utxo_output": n_tx,
              "cardano_tx_utxo_output_amount": n_tx}
    for t in TABLES:
        got = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if got != expect[t]:
            fails.append(f"{t}: {got} rows, the fixture chain gives {expect[t]}")
    if info["before_noop"] != info["after_noop"]:
        new = sorted(set(info["after_noop"]) - set(info["before_noop"]))
        fails.append(f"no-op tick wrote {len(new)} files, e.g. {new[:3]}")
    got_hashes = {r[0] for r in con.execute("SELECT hash FROM cardano_transactions").fetchall()}
    if got_hashes != set(txs):
        fails.append("cardano_transactions hashes differ from the fixture chain")
    for tk in info["ticks"]:
        e = tk["end"]
        cut = f"JOIN cardano_transactions t USING (hash) WHERE t.block_height <= {e}"
        q6 = con.execute(
            "SELECT reference_script_hash, count(*) FROM cardano_tx_utxo_input i "
            f"{cut} AND reference_script_hash IS NOT NULL GROUP BY 1 "
            "ORDER BY 2 DESC, 1 LIMIT 10").fetchall()
        q8 = con.execute(
            "SELECT i.reference_script_hash, sum(a.quantity) FROM cardano_tx_utxo_input i "
            "JOIN cardano_tx_utxo_input_amount a ON a.parent_id = i.id AND a.unit = 'lovelace' "
            f"{cut} AND i.reference_script_hash IS NOT NULL GROUP BY 1 "
            "ORDER BY 2 DESC, 1 LIMIT 10").fetchall()
        as_str = lambda rows: [[str(v) for v in r] for r in rows]
        if tk["q6"] != as_str(q6):
            fails.append(f"Q6 at height {e} differs from DuckDB")
        if [[a, str(int(float(b)))] for a, b in tk["q8"]] != as_str((a, int(b)) for a, b in q8):
            fails.append(f"Q8 at height {e} differs from DuckDB")
        if tk["q7"]:
            fails.append(f"Q7 at height {e} returned {len(tk['q7'])} rows")
    return fails


def check_stream(check_dir):
    info = json.loads((check_dir / "stream.json").read_text())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{info['dir']}/{t}.parquet/*.parquet'")
    if not info["decided"]:
        return ["no st23 run returned decisions"]
    fails = _compare(con, "st23 decisions", f"SELECT * FROM '{check_dir}/decisions/*.parquet'",
                     info["oracle"])
    if info["mismatched_runs"]:
        fails.append(f"{info['mismatched_runs']} runs returned different decisions")
    return fails


def run(workload, check_dir):
    return {"etl_ticks": check_etl, "curation_stream": check_stream}[workload](Path(check_dir))


def p50_tail(secs):
    """Median, and the highest percentile with at least ten samples beyond
    it (None below eleven samples).
    """
    s = sorted(secs)
    return statistics.median(s), (s[len(s) - 11] if len(s) >= 11 else None)


def named_metrics(workload, res):
    """The workload-named end-to-end figures. BENCHMARK.json reports them
    under the shared names op_p50_s / work_per_s; MAPPING.json has the map.
    """
    ok = [o for o in res["ops"] if o["error"] is None]
    if not ok:
        return {}
    p50, tail = p50_tail([o["secs"] for o in ok])
    rate = sum(o["units"] for o in ok) / sum(o["secs"] for o in res["ops"])
    if workload == "etl_ticks":
        return {"etl.tick_p50_s": p50, "etl.tick_tail_s": tail, "etl.blocks_per_s": rate,
                "etl.noop_tick_s": statistics.median(res["extra"]["noop_tick_s"]),
                "samples": len(ok)}
    return {"stream.run_p50_s": p50, "stream.docs_per_s": rate, "samples": len(ok)}
