"""Output checks: every result the driver dumps is compared against an
independent DuckDB (or plain Python) replay of the same generated inputs.
Any mismatch is a problem and makes the run incorrect."""
import os
from collections import Counter

import duckdb
import pandas as pd

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
TS = {"o_orderdate", "l_shipdate", "updated_at"}


def _con(inp):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TPCH + ["ods_orders", "ods_lineitem", "feed_orders", "feed_lineitem"]:
        if os.path.exists(f"{inp}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
    return con


def _windows(inp):
    with open(f"{inp}/windows.tsv") as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def _replay(con, inp, n_windows, backdated, suffix=""):
    """orders / lineitem state after the first `n_windows` CDC windows
    and, if `backdated`, the re-merge of the past day: the latest version
    of each key by cursor, deletes dropped."""
    wins = _windows(inp)
    end = wins[n_windows - 1][1] if n_windows else wins[0][0]
    start = "1970-01-01 00:00:00" if backdated else wins[0][0]
    con.execute(f"""CREATE OR REPLACE VIEW orders_state{suffix} AS
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY updated_at DESC) rn
          FROM (SELECT * FROM ods_orders UNION ALL
                SELECT * FROM feed_orders
                WHERE updated_at >= TIMESTAMP '{start}' AND updated_at < TIMESTAMP '{end}'))
        WHERE rn = 1""")
    con.execute(f"""CREATE OR REPLACE VIEW lineitem_state{suffix} AS
        SELECT * EXCLUDE (rn, op) FROM (
          SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                                       ORDER BY updated_at DESC) rn
          FROM (SELECT *, 'U' AS op FROM ods_lineitem UNION ALL
                SELECT * FROM feed_lineitem
                WHERE updated_at >= TIMESTAMP '{start}' AND updated_at < TIMESTAMP '{end}'))
        WHERE rn = 1 AND op = 'U'""")


def _same_rows(con, got_dir, want_view, cols):
    """Multiset equality of a dumped parquet dir and a DuckDB view."""
    sel = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c in TS else c for c in cols)
    got = f"(SELECT {sel} FROM '{got_dir}/*.parquet')"
    want = f"(SELECT {sel} FROM {want_view})"
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    if extra or missing:
        return n_got, f"{got_dir}: {n_got} rows vs {n_want} expected; {extra} unexpected, {missing} missing"
    return n_got, None


def _canon(df):
    """Same canonical form as tools/selfcheck.py: columns by name, floats
    rounded to 9 places, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same_answer(con, got_dir, sql):
    got, want = _canon(pd.read_parquet(got_dir)), _canon(con.execute(sql).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"{os.path.basename(got_dir)}: columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want) or not got.equals(want):
        return f"{os.path.basename(got_dir)}: {len(got)} rows differ from the DuckDB answer ({len(want)} rows)"
    return None


def check_ods(inp, out, res):
    con = _con(inp)
    info = res["info"]
    applied = info["windows_applied"]
    _replay(con, inp, applied, info["backdates"] > 0)
    problems = []
    ocols = [d[0] for d in con.execute("DESCRIBE ods_orders").fetchall()]
    lcols = [d[0] for d in con.execute("DESCRIBE ods_lineitem").fetchall()]
    n_o, p1 = _same_rows(con, f"{out}/orders", "orders_state", ocols)
    n_l, p2 = _same_rows(con, f"{out}/lineitem", "lineitem_state", lcols)
    con.execute("""CREATE VIEW mart_want AS SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice, o_month, updated_at,
        CASE WHEN o_totalprice >= 200000 THEN 'large' ELSE 'small' END AS size_band
        FROM orders_state""")
    _, p3 = _same_rows(con, f"{out}/orders_mart", "mart_want",
                       ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_month",
                        "updated_at", "size_band"])
    problems += [p for p in (p1, p2, p3) if p]
    # the rewritten aggregate answers as of the last published rollup
    _replay(con, inp, info["rollup_windows"], info["rollup_backdates"] > 0, "_published")
    lo, hi = res["info"]["last_window"].split()
    reads = {
        "day_rollup": """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, o_orderstatus, count(*) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders_state GROUP BY ALL""",
        "month_rewrite": """SELECT o_month, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
            count(*) AS n FROM orders_state_published WHERE o_orderstatus <> 'P' GROUP BY o_month""",
        "lineitem_agg": MART_SQL["mor_reconcile_agg"],
        "new_orders": f"""SELECT o_orderkey, o_orderstatus, o_totalprice, o_month FROM orders_state
            WHERE o_orderkey BETWEEN {lo} AND {hi}""",
    }
    for name, sql in reads.items():
        p = _same_answer(con, f"{out}/answers/{name}", sql)
        if p:
            problems.append(p)
    want_wm = _windows(inp)[applied - 1][1]
    if res["info"]["watermark"] != want_wm:
        problems.append(f"watermark {res['info']['watermark']!r}, expected {want_wm!r}")
    return {"problems": problems, "live_rows": n_o + n_l, "stored_bytes": res["info"]["stored_bytes"]}


# the reconcile-on-read aggregate of lineitem, replayed over the same windows
MART_SQL = {
    "mor_reconcile_agg": """SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem_state GROUP BY ALL""",
}


def _shingles(text):
    ws = text.lower().split()
    if len(ws) >= 3:
        return frozenset(" ".join(ws[i:i + 3]) for i in range(len(ws) - 2))
    return frozenset([" ".join(ws)])


class _Index:
    """Exact all-pairs shingle-Jaccard search through an inverted index."""

    def __init__(self):
        self.sets, self.post = [], {}

    def add(self, s):
        i = len(self.sets)
        self.sets.append(s)
        for sh in s:
            self.post.setdefault(sh, []).append(i)

    def has_match(self, s, threshold=0.8):
        shared = Counter(i for sh in s for i in self.post.get(sh, ()))
        return any(n / (len(s) + len(self.sets[i]) - n) >= threshold for i, n in shared.items())


def check_llm(inp, out, res):
    """Replays admission in tick order against exactly the docs the store
    admitted before each tick. A rejected doc must have a >= 0.8 match
    there (else the door dropped a unique doc); an admitted doc that has
    one is a false admit, reported as a count."""
    consumed = res["info"]["ticks_consumed"]
    admitted = set(pd.read_parquet(f"{out}/admitted")["doc_id"].tolist())
    idx = _Index()
    for t in pd.read_parquet(f"{inp}/corpus.parquet")["text"]:
        idx.add(_shingles(t))
    problems, false_admits, screened, survivors, seen = [], 0, 0, 0, set()
    for t in range(consumed):
        tick = pd.read_parquet(f"{inp}/ticks/tick_{t:05d}.parquet")
        seen.update(tick["doc_id"].tolist())
        verdicts = []
        for doc_id, text in zip(tick["doc_id"], tick["text"]):
            s = _shingles(text)
            dup = idx.has_match(s)
            ok = doc_id in admitted
            if not ok and not dup:
                problems.append(f"tick {t}: doc {doc_id} rejected without a >= 0.8 match")
            false_admits += ok and dup
            verdicts.append((ok, s))
        for ok, s in verdicts:
            if ok:
                idx.add(s)
        screened += len(tick)
        survivors += sum(ok for ok, _ in verdicts)
    problems += [f"admitted doc {i} was never delivered" for i in sorted(admitted - seen)]
    return {"problems": problems[:20], "false_admits": false_admits,
            "admitted_ratio": survivors / screened if screened else 0.0,
            "live_rows": res["info"]["live_rows"], "stored_bytes": res["info"]["stored_bytes"]}


def run(workload, inp, out, res):
    fn = {"ods_cdc": check_ods, "llm_curation": check_llm}[workload]
    verdict = fn(inp, out, res)
    failed = [o["error"] for o in res["ops"] if not o["ok"]]
    verdict["problems"] += [f"op failed: {e}" for e in failed[:5]]
    return verdict
