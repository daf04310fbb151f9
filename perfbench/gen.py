"""Seeded input generators for the three benchmark workloads.

Everything the engine reads is produced here from `--seed`: the same
seed writes byte-identical inputs.  The JVM driver only ever sees these
files; the checks replay the same files in DuckDB.

Traffic dimensions drawn from the seed (recorded in `params.json`):
  ods_cdc: insert / update / delete shares, skew of updates toward recent
    keys, the share of updates to old keys, and the share of the past
    day's changes that arrive late, which only the re-pull of that day
    merges (the reference's backdate re-merge, see `ods_cdc`).
  llm_curation: fresh / near-duplicate / intra-batch-duplicate shares and
    the near-duplicate edit rates.
The ranges of these values are assumptions, not measurements of the
reference: it documents its cadence and late-data shape, not its traffic
mix.  They are narrow so that the spread across seeds stays inside the
benchmark's bounds.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts.  Sized so one run of every workload (set-up, measurement,
# checks) stays well under a minute on a 4-core box.
N_ORDERS = 10_000
CHANGES_PER_WINDOW = 250       # order change rows per 5-minute window
DAY_CHANGES = 1_000            # order changes of the re-pulled past day
# Generated windows and ticks: a run uses as many as fit in its seconds;
# these cover a 10 s run at ten times the speed of the seed code.
N_WINDOWS = 24
N_CORPUS = 800
N_TICKS = 40
TICK_DOCS = 80

BASE_TS = np.datetime64("2024-03-01T00:00:00", "us")    # day T, the run's windows
WINDOW = np.timedelta64(5 * 60 * 1_000_000, "us")
DAY = np.timedelta64(86_400 * 1_000_000, "us")
HIST_TS = BASE_TS - 2 * DAY     # cursor of the rows unchanged since before T-1
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2_404              # 1995-01-01 .. 2001-08-01

US = pa.timestamp("us")


def _month(days):
    """yyyymm of datetime64[D] values."""
    m = days.astype("datetime64[M]").astype(np.int64)
    return ((m // 12 + 1970) * 100 + m % 12 + 1).astype(np.int32)


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size)


def _names(prefix, ids):
    return pa.array([f"{prefix}#{i:09d}" for i in ids])


def tpch(rng, n_orders):
    """TPC-H-shaped tables with the testdata schemas: dates increase with
    the order key, so "recent keys" are recent month partitions."""
    n_cust = max(150, n_orders // 10)
    n_supp = max(100, n_orders // 1_500)
    n_part = max(200, n_orders * 2 // 15)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", range(n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", range(n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 2)})
    days = ORDER_DAY0 + np.sort(rng.integers(0, ORDER_DAYS, n_orders)).astype("timedelta64[D]")
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_orders), 2),
        "o_orderdate": days.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)}
    nlines = rng.integers(1, 8, n_orders)
    li = _lines(rng, np.repeat(orders["o_orderkey"], nlines),
                np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32),
                np.repeat(days, nlines), n_part, n_supp)
    t["orders"] = pa.table(orders)
    t["lineitem"] = pa.table(li)
    n_ev = max(5_000, n_orders // 2)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + rng.integers(0, 30 * 86_400 * 1_000_000, n_ev).astype("timedelta64[us]"), US),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t, nlines, days


def _lines(rng, okeys, lnums, odays, n_part, n_supp):
    n = len(okeys)
    flag = rng.choice(["A", "N", "R"], n)
    return {
        "l_orderkey": okeys.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lnums.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": np.where(flag == "N", "O", rng.choice(["F", "O"], n)),
        "l_shipdate": (odays + rng.integers(1, 122, n).astype("timedelta64[D]")).astype("datetime64[us]"),
    }


class _Live:
    """What the generator knows of the orders while it writes the feed:
    each order's day and month partition, its live line count, the next
    new key, and the lines the re-pulled day changed (never deleted, see
    `_changes`)."""

    def __init__(self, days, nlines):
        self.days = list(days)
        self.month = _month(days)
        self.lines = nlines.astype(np.int64).tolist()
        self.next_key = len(days)
        self.repulled = set()


def _changes(rng, st, p, n, t0, span, cust, n_part, n_supp, deletes):
    """`n` order changes with cursors in [t0, t0 + span): inserts of new
    keys, updates skewed toward recent keys plus a share spread over all
    keys (old month partitions).  Their lineitem rows: every line of a new
    order, one re-stated line per updated order and, with `deletes`, the
    last live line of a `delete_share` of the updated orders instead.  A
    line of the re-pulled day is never deleted: the re-pull restates it
    from the feed, where a real source, whose cursor re-scan cannot see
    hard deletes, would no longer hold it."""
    n_ins = int(n * p["insert_share"])
    n_upd = n - n_ins
    n_old = int(n_upd * p["old_share"])
    nk = st.next_key
    dist = rng.exponential(p["recent_skew"] * nk, (n_upd - n_old) * 2).astype(np.int64)
    recent = np.unique(np.clip(nk - 1 - dist, 0, nk - 1))[:n_upd - n_old]
    upd = np.union1d(recent, rng.choice(nk, n_old, replace=False))
    ins = np.arange(nk, nk + n_ins)
    st.next_key += n_ins
    # new orders are dated after the base range, 40 a day
    ins_days = np.datetime64("2001-08-01", "D") + (ins // 40 - N_ORDERS // 40).astype("timedelta64[D]")
    keys = np.concatenate([upd, ins]).astype(np.int64)
    kdays = np.concatenate([np.array([st.days[k] for k in upd], dtype="datetime64[D]"), ins_days])
    st.days.extend(ins_days)
    st.month = np.concatenate([st.month, _month(ins_days)])
    cur = t0 + np.sort(rng.integers(0, span.astype(np.int64), len(keys))).astype("timedelta64[us]")
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, cust, len(keys)).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(keys)),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, len(keys)), 2),
        "o_orderdate": kdays.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(keys)),
        "o_month": pa.array(_month(kdays)),
        "updated_at": pa.array(cur, US)})
    ok, ln, op, ld, lc = [], [], [], [], []
    for k, c in zip(upd, cur[:len(upd)]):
        k = int(k)
        if st.lines[k] == 0:
            continue
        last = st.lines[k]
        if deletes and last > 1 and (k, last) not in st.repulled and rng.random() < p["delete_share"]:
            ok.append(k); ln.append(last); op.append("D")
            st.lines[k] -= 1
        else:
            ok.append(k); ln.append(int(rng.integers(1, last + 1))); op.append("U")
        ld.append(st.days[k]); lc.append(c)
    for k, d, c in zip(ins, ins_days, cur[len(upd):]):
        m = int(rng.integers(1, 8))
        st.lines.append(m)
        for j in range(1, m + 1):
            ok.append(int(k)); ln.append(j); op.append("U"); ld.append(d); lc.append(c)
    cols = _lines(rng, np.array(ok, dtype=np.int64), np.array(ln, dtype=np.int32),
                  np.array(ld, dtype="datetime64[D]"), n_part, n_supp)
    lines = pa.table(cols).append_column("l_month", pa.array(_month(np.array(ld, dtype="datetime64[D]"))))
    lines = lines.append_column("updated_at", pa.array(np.array(lc, dtype="datetime64[us]"), US))
    lines = lines.append_column("op", pa.array(op))
    return orders, lines, (int(ins[0]), int(ins[-1]))


def _latest(base, changes, keys):
    """`base` with the rows of `changes` (one per key) replacing theirs."""
    drop = pc.is_in(pc.binary_join_element_wise(
        *[pc.cast(base[k], pa.string()) for k in keys], "/"),
        value_set=pc.binary_join_element_wise(*[pc.cast(changes[k], pa.string()) for k in keys], "/"))
    return pa.concat_tables([base.filter(pc.invert(drop)), changes.select(base.column_names)])


def ods_cdc(rng, out, n_orders=N_ORDERS, n_windows=N_WINDOWS):
    """Base ODS tables plus a CDC feed: the past day T-1 and `n_windows`
    5-minute windows of day T.

    The late-data shape is the reference's (SURVEY.md §2.8 "Late data",
    §6 "Re-merge cadence"): backdate DAGs re-pull whole past days (the
    day before, T-1) and MERGE them again, and the M1 late-update guard
    (§2.6) makes the re-merge monotone.  Here the ODS snapshot holds day
    T-1 as its regular windows merged it, which misses the `late_share`
    of the day's changes that reached the source after their window ran;
    the feed holds every change of T-1, so a re-pull of the day restates
    all of it, mostly rows the ODS already has, and merges the late ones.
    The windows are 5 minutes long (§2.8 "Cadence").  Every traffic value
    below, and the size of the past day against a window, is an
    assumption with no measured source (README, "Workloads")."""
    p = {
        "insert_share": float(rng.uniform(0.22, 0.28)),
        "delete_share": float(rng.uniform(0.05, 0.07)),
        "recent_skew": float(rng.uniform(0.02, 0.04)),
        "old_share": float(rng.uniform(0.08, 0.12)),
        "late_share": float(rng.uniform(0.08, 0.12)),
    }
    t, nlines, days = tpch(rng, n_orders)
    os.makedirs(out, exist_ok=True)
    for name, tab in t.items():
        _write(tab, f"{out}/{name}.parquet")
    n_part, n_supp = t["part"].num_rows, t["supplier"].num_rows
    cust = t["customer"].num_rows
    hist_o = t["orders"].append_column("o_month", pa.array(_month(days)))
    hist_o = hist_o.append_column("updated_at", pa.array(np.full(n_orders, HIST_TS), US))
    li = t["lineitem"]
    hist_l = li.append_column("l_month", pa.array(np.repeat(_month(days), nlines))).append_column(
        "updated_at", pa.array(np.full(li.num_rows, HIST_TS), US))

    st = _Live(days, nlines)
    day_o, day_l, _ = _changes(rng, st, p, DAY_CHANGES, BASE_TS - DAY, DAY, cust, n_part, n_supp,
                               deletes=False)
    st.repulled = set(zip(day_l["l_orderkey"].to_pylist(), day_l["l_linenumber"].to_pylist()))
    late_keys = pa.array(day_o["o_orderkey"].to_numpy()[rng.random(day_o.num_rows) < p["late_share"]])
    on_time_o = day_o.filter(pc.invert(pc.is_in(day_o["o_orderkey"], value_set=late_keys)))
    on_time_l = day_l.filter(pc.invert(pc.is_in(day_l["l_orderkey"], value_set=late_keys)))
    _write(_latest(hist_o, on_time_o, ["o_orderkey"]), f"{out}/ods_orders.parquet")
    _write(_latest(hist_l, on_time_l.drop(["op"]), ["l_orderkey", "l_linenumber"]),
           f"{out}/ods_lineitem.parquet")

    o_parts, l_parts, sizes = [day_o], [day_l], []
    for w in range(n_windows):
        o, lt, (k0, k1) = _changes(rng, st, p, CHANGES_PER_WINDOW, BASE_TS + w * WINDOW, WINDOW,
                                   cust, n_part, n_supp, deletes=True)
        o_parts.append(o)
        l_parts.append(lt)
        sizes.append([o.num_rows, lt.num_rows, k0, k1])
    lf = pa.concat_tables(l_parts)
    # deletes carry only key, partition and cursor
    mask = pc.equal(lf["op"], "D")
    for c in ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
              "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]:
        i = lf.schema.get_field_index(c)
        lf = lf.set_column(i, c, pc.if_else(mask, pa.scalar(None, lf[c].type), lf[c]))
    # one row group per window (and one for the past day), so the
    # pushed-down cursor filter skips the other windows' row groups
    for name, parts, table in (("feed_orders", o_parts, pa.concat_tables(o_parts)),
                               ("feed_lineitem", l_parts, lf)):
        with pq.ParquetWriter(f"{out}/{name}.parquet", table.schema) as wr:
            at = 0
            for part in parts:
                wr.write_table(table.slice(at, part.num_rows), row_group_size=part.num_rows)
                at += part.num_rows
    p.update(n_orders=n_orders, n_windows=n_windows, window_rows=sizes,
             backdate_rows=[day_o.num_rows, day_l.num_rows], late_orders=len(late_keys),
             base_ts=str(BASE_TS), window_us=int(WINDOW.astype(np.int64)))
    return p


# ---------------------------------------------------------------- documents

def _vocab(rng, n=6_000):
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe",
           "gu", "hi", "jo", "be", "ty", "wa", "xo", "qu"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(syl, k)))
    return np.array(sorted(words))


def _doc(rng, vocab, zipf):
    n = int(rng.integers(40, 120))
    return list(vocab[rng.choice(len(vocab), n, p=zipf)])


def _edit(rng, words, rate, vocab):
    w = list(words)
    for i in np.flatnonzero(rng.random(len(w)) < rate):
        w[i] = vocab[rng.integers(len(vocab))]
    return w


def llm_curation(rng, out, n_corpus=N_CORPUS, n_ticks=N_TICKS, tick_docs=TICK_DOCS):
    """A pre-admitted corpus plus one inbox file per tick.  Each tick mixes
    fresh docs, near-duplicates of corpus docs and of earlier ticks' docs
    at several word-substitution rates (some above, some below the 0.8
    shingle-Jaccard threshold), and intra-batch near-duplicates."""
    p = {
        "near_dup_share": float(rng.uniform(0.33, 0.37)),
        "intra_batch_share": float(rng.uniform(0.09, 0.11)),
        "edit_rates": sorted(float(r) for r in rng.choice(
            [0.0, 0.01, 0.02, 0.04, 0.07, 0.12], 4, replace=False)),
    }
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1)
    zipf = (1 / ranks ** 0.9) / (1 / ranks ** 0.9).sum()
    os.makedirs(f"{out}/ticks", exist_ok=True)
    corpus = [_doc(rng, vocab, zipf) for _ in range(n_corpus)]
    pq.write_table(pa.table({"doc_id": np.arange(n_corpus, dtype=np.int64),
                             "text": [" ".join(d) for d in corpus]}), f"{out}/corpus.parquet")
    seen = list(corpus)
    sizes = []
    for t in range(n_ticks):
        n = tick_docs
        docs = []
        for _ in range(n):
            r = rng.random()
            if r < p["near_dup_share"]:
                src = seen[int(rng.integers(len(seen)))]
                docs.append(_edit(rng, src, float(rng.choice(p["edit_rates"])), vocab))
            elif r < p["near_dup_share"] + p["intra_batch_share"] and docs:
                src = docs[int(rng.integers(len(docs)))]
                docs.append(_edit(rng, src, float(rng.choice(p["edit_rates"])), vocab))
            else:
                docs.append(_doc(rng, vocab, zipf))
        seen.extend(docs)
        ids = n_corpus + t * 10_000 + np.arange(n, dtype=np.int64)
        pq.write_table(pa.table({"doc_id": ids, "text": [" ".join(d) for d in docs]}),
                       f"{out}/ticks/tick_{t:05d}.parquet")
        sizes.append(n)
    p.update(n_corpus=n_corpus, tick_docs=sizes)
    return p


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, {"ods_cdc": 1, "llm_curation": 3}[workload]])
    p = llm_curation(rng, out) if workload == "llm_curation" else ods_cdc(rng, out)
    p["seed"] = seed
    with open(f"{out}/params.json", "w") as f:
        json.dump(p, f)
    # plain-text manifests the JVM driver reads
    if workload == "llm_curation":
        _text(f"{out}/ticks.tsv", [f"tick_{t:05d}.parquet\t{n}" for t, n in enumerate(p["tick_docs"])])
    else:
        lines = []
        for w, (no, nl, k0, k1) in enumerate(p["window_rows"]):
            lo = BASE_TS + w * WINDOW
            lines.append(f"{_iso(lo)}\t{_iso(lo + WINDOW)}\t{no}\t{nl}\t{k0}\t{k1}")
        _text(f"{out}/windows.tsv", lines)
        no, nl = p["backdate_rows"]
        _text(f"{out}/backdate.tsv", [f"{_iso(BASE_TS - DAY)}\t{_iso(BASE_TS)}\t{no}\t{nl}"])
    return p


def _iso(ts):
    return str(ts.astype("datetime64[s]")).replace("T", " ")


def _text(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
