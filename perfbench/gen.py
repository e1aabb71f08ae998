"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the same
bytes. Schemas follow graft's claims-datamart test tables (TPC-H-like star
schema plus `events` and `documents`), so `SparkEntry.queries` and their
DuckDB oracles run on them unchanged.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64").astype("datetime64[us]"))


def _day_us(date):
    return int((np.datetime64(date, "us") - EPOCH).astype("int64"))


DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


# --------------------------------------------------------------- report_batch

WORDS = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window order data column join small customer query big "
         "stream filter group").split()


def _doc_text(rng, n_words, vocab=WORDS):
    idx = rng.integers(0, len(vocab), n_words)
    return " ".join(vocab[i] for i in idx)


def claims_tables(out, seed, sf):
    """region/nation/customer/supplier/part/orders/lineitem/events/documents."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})

    n_cust = max(150, int(150_000 * sf))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})

    n_supp = max(10, int(10_000 * sf))
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    n_part = max(200, int(200_000 * sf))
    adj = np.array(["small", "red", "blue", "hot", "old", "big"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 6, n_part)],
                                             noun[rng.integers(0, 5, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})

    n_ord = max(1500, int(1_500_000 * sf))
    d0, d1 = _day_us("1995-01-01"), _day_us("2001-08-01")
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)].tolist()})

    # lineitem: 1..7 lines for a random subset of orders (some orders have none)
    n_li = 4 * n_ord
    lok = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, lok[1:] != lok[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    lnum = (np.arange(n_li) - grp_start + 1)
    keep = lnum <= 7
    lok, lnum = lok[keep], lnum[keep].astype("int32")
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = odate[lok] + rng.integers(1, 122, n_li) * DAY_US
    flags = np.array([("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O"), ("A", "O")])
    fl = flags[rng.integers(0, len(flags), n_li)]
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(lok.astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": fl[:, 0].tolist(),
        "l_linestatus": fl[:, 1].tolist(),
        "l_shipdate": _ts(ship)})

    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t0 = _day_us("2024-01-01")
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)].tolist(),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = max(50, int(50_000 * sf))
    texts = [_doc_text(rng, int(n)) for n in rng.integers(8, 90, n_doc)]
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)].tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})


# ----------------------------------------------------------------- cdc_merge

CDC_DAYS = 30
CDC_START = "2024-01-01"
STATUSES = np.array(["OPEN", "REVIEW", "PAID", "DENIED"])


def _claims_rows(claim_id, day, member, amount, status, deleted, version_ts, seq):
    return {
        "claim_id": pa.array(np.asarray(claim_id, dtype="int64")),
        "claim_date": pa.array(np.asarray(day, dtype="int64").astype("datetime64[D]")),
        "member_id": pa.array(np.asarray(member, dtype="int64")),
        "amount": pa.array(np.asarray(amount, dtype="float64")),
        "status": STATUSES[np.asarray(status, dtype="int64")].tolist(),
        "is_deleted": pa.array(np.asarray(deleted, dtype="bool")),
        "version_ts": _ts(version_ts),
        "seq": pa.array(np.asarray(seq, dtype="int64"))}


def cdc_inputs(out, seed, keys, batches, batch_rows):
    """Initial claims target plus `batches` nightly change batches.

    Changes carry late and duplicate versions and a mix of updates,
    inserts and (soft) deletes; 85% hit the last 7 days, the tail hits a
    few seed-chosen old days. The manifest records, per batch, the insert
    and update counts a correct MERGE (newer version wins) must report.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    base_day = int(np.datetime64(CDC_START, "D").astype("int64"))
    # claim ids are dense; day of a claim is fixed for its life
    day = np.sort(rng.integers(0, CDC_DAYS, keys)) + base_day
    member = rng.integers(0, keys // 4 + 1, keys)
    v0 = (day - int(np.datetime64("1970-01-01", "D").astype("int64"))) * DAY_US \
        + rng.integers(0, DAY_US, keys)
    cur_ts = v0.copy()           # newest version per claim id
    _write(f"{out}/initial.parquet", _claims_rows(
        np.arange(keys), day, member, np.round(rng.uniform(10, 5000, keys), 2),
        rng.integers(0, 3, keys), np.zeros(keys, bool), v0, np.zeros(keys)))

    # room for inserted claims
    cap = keys + batches * batch_rows
    day = np.concatenate([day, np.zeros(cap - keys, dtype=day.dtype)])
    member = np.concatenate([member, np.zeros(cap - keys, dtype=member.dtype)])
    cur_ts = np.concatenate([cur_ts, np.full(cap - keys, -1, dtype="int64")])
    n_keys = keys
    last_day = base_day + CDC_DAYS - 1
    night_us = (last_day + 1 - int(np.datetime64("1970-01-01", "D").astype("int64"))) * DAY_US
    manifest = []
    seq = 1
    for b in range(batches):
        night0 = night_us + b * DAY_US
        n_ins = batch_rows // 5
        n_del = batch_rows // 10
        n_upd = batch_rows - n_ins - n_del
        # recency skew: updates/deletes on recent days, a tail on 3 old days
        recent_lo = np.searchsorted(day[:keys], last_day - 6)
        old_days = rng.choice(CDC_DAYS - 7, 3, replace=False) + base_day
        def pick(n):
            n_tail = n * 15 // 100
            recent = rng.integers(recent_lo, n_keys, n - n_tail)
            pool = np.flatnonzero(np.isin(day[:keys], old_days))
            return np.concatenate([recent, rng.choice(pool, n_tail)])
        upd = pick(n_upd)
        dele = pick(n_del)
        ins = np.arange(n_keys, n_keys + n_ins)
        day[ins] = last_day - rng.integers(0, 3, n_ins)
        member[ins] = rng.integers(0, keys // 4 + 1, n_ins)
        n_keys += n_ins
        ids = np.concatenate([upd, dele, ins])
        deleted = np.r_[np.zeros(len(upd), bool), np.ones(len(dele), bool),
                        np.zeros(n_ins, bool)]
        vts = night0 + rng.integers(0, DAY_US, len(ids))
        # 10% late versions: stamped before the claim's current version
        late = rng.random(len(ids)) < 0.10
        late &= cur_ts[ids] > 0
        vts = np.where(late, cur_ts[ids] - rng.integers(1, DAY_US, len(ids)), vts)
        # 10% duplicate deliveries (byte-identical rows)
        dup = rng.random(len(ids)) < 0.10
        rows_id = np.concatenate([ids, ids[dup]])
        rows_del = np.concatenate([deleted, deleted[dup]])
        rows_ts = np.concatenate([vts, vts[dup]])
        n = len(rows_id)
        seqs = np.arange(seq, seq + len(ids))
        rows_seq = np.concatenate([seqs, seqs[dup]])
        seq += len(ids)
        amount = np.round(rng.uniform(10, 5000, len(ids)), 2)
        status = rng.integers(0, 4, len(ids))
        rows_amt = np.concatenate([amount, amount[dup]])
        rows_st = np.concatenate([status, status[dup]])
        order = rng.permutation(n)
        _write(f"{out}/batch_{b:03d}.parquet", _claims_rows(
            rows_id[order], day[rows_id[order]], member[rows_id[order]],
            rows_amt[order], rows_st[order], rows_del[order], rows_ts[order],
            rows_seq[order]))
        # expected MERGE counts over the deduped source: per id the latest
        # (ts, seq) wins, and only a newer version than the target's updates
        best = {}
        for i, t, s in zip(ids, vts, seqs):
            if i not in best or (t, s) > best[i]:
                best[i] = (t, s)
        inserted = updated = 0
        for i, (t, s) in best.items():
            if cur_ts[i] < 0:
                inserted += 1
                cur_ts[i] = t
            elif t > cur_ts[i]:
                updated += 1
                cur_ts[i] = t
        manifest.append(f"batch_{b:03d}.parquet\t{n}\t{inserted}\t{updated}")
    with open(f"{out}/manifest.tsv", "w") as f:
        f.write("\n".join(["file\trows\tinserted\tupdated"] + manifest) + "\n")


# ------------------------------------------------------------- ingest_nights

EMB_DIMS = 64


def _vocab(rng, n):
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    out = set()
    while len(out) < n:
        k = rng.integers(2, 4)
        out.add("".join(cons[rng.integers(0, len(cons))] + vows[rng.integers(0, len(vows))]
                        for _ in range(k)))
    return sorted(out)


class _Markov:
    """Bigram chain over a vocabulary: fluent text a bigram LM scores well."""

    def __init__(self, rng, vocab, fanout=6):
        self.vocab = vocab
        self.next = rng.integers(0, len(vocab), (len(vocab), fanout))

    def text(self, rng, n):
        w = int(rng.integers(0, len(self.vocab)))
        out = []
        for _ in range(n):
            out.append(self.vocab[w])
            w = int(self.next[w, rng.integers(0, self.next.shape[1])])
        return " ".join(out)


def ingest_inputs(out, seed, nights, docs_per_night):
    """Training sets, eval set, a bootstrap batch and `nights` more batches.

    Each night mixes fresh docs (55%), exact re-submissions (10%: of docs
    landed by earlier nights, or in the bootstrap batch of its own fresh
    docs), near-dups (10%), eval-contaminated docs (10%) and low-quality
    docs (15%). The manifest lists each batch's ids by kind plus the
    seed-chosen retraction ids.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    good = _Markov(rng, _vocab(rng, 400))
    junk_vocab = _vocab(rng, 3000)
    evalgen = _Markov(rng, _vocab(rng, 400))

    def fresh(n):
        return [good.text(rng, int(k)) for k in rng.integers(40, 90, n)]

    def junk(n):
        return [" ".join(junk_vocab[i] for i in rng.integers(0, len(junk_vocab), int(k)))
                for k in rng.integers(40, 90, n)]

    def emb(n):
        v = rng.standard_normal((n, EMB_DIMS)).astype("float32")
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    def write_docs(path, ids, texts, vecs=None):
        cols = {"doc_id": pa.array(np.asarray(ids, dtype="int64")), "text": texts}
        if vecs is not None:
            cols["embedding"] = pa.array(list(vecs), type=pa.list_(pa.float32()))
        _write(path, cols)

    # model training sets: LM on fluent text; NB fluent (pos) vs junk (neg)
    write_docs(f"{out}/train_pos.parquet", np.arange(100), fresh(100))
    write_docs(f"{out}/train_neg.parquet", np.arange(400, 500), junk(100))
    # held-out calibration for the LM ceiling: fluent ids below 900, junk above
    write_docs(f"{out}/calib.parquet", np.arange(850, 950), fresh(50) + junk(50))
    eval_texts = [evalgen.text(rng, int(k)) for k in rng.integers(30, 60, 60)]
    write_docs(f"{out}/eval_set.parquet", np.arange(1_000_000, 1_000_060), eval_texts)

    next_id = 10_000
    landed_text = []                   # (id, text) of fresh docs offered so far
    kinds = []
    exact_src = []                     # (re-submission id, original id)
    for b in range(nights + 1):        # bootstrap + nights
        n = docs_per_night
        n_exact = n // 10
        n_near = n // 10
        n_cont = n // 10
        n_junk = n * 15 // 100
        n_fresh = n - n_exact - n_near - n_cont - n_junk
        ids, texts, vecs, kind = [], [], [], {}

        def add(k, t, v):
            nonlocal next_id
            ids.append(next_id)
            texts.append(t)
            vecs.append(v)
            kind.setdefault(k, []).append(next_id)
            next_id += 1

        f_txt = fresh(n_fresh)
        f_vec = emb(n_fresh)
        for t, v in zip(f_txt, f_vec):
            add("fresh", t, v)
        pool = landed_text if b else list(zip(kind["fresh"], f_txt))
        for p in rng.choice(len(pool), n_exact, replace=False):
            add("exact", pool[p][1], emb(1)[0])
            exact_src.append((next_id - 1, pool[p][0]))
        for i in rng.choice(n_fresh, n_near, replace=False):
            w = f_txt[i].split()
            j = int(rng.integers(0, len(w)))
            w[j] = good.vocab[int(rng.integers(0, len(good.vocab)))]
            add("near", " ".join(w), f_vec[i])
        for i in rng.integers(0, len(eval_texts), n_cont):
            add("contaminated", eval_texts[i] + " " + good.text(rng, 5), emb(1)[0])
        for t in junk(n_junk):
            add("junk", t, emb(1)[0])
        landed_text.extend((i, t) for i, t in zip(kind["fresh"], f_txt))
        order = rng.permutation(len(ids))
        write_docs(f"{out}/night_{b:03d}.parquet", np.asarray(ids)[order],
                   [texts[i] for i in order], np.asarray(vecs)[order])
        kinds.append({k: [int(x) for x in v] for k, v in kind.items()})
    # retraction: a seed-chosen share of the bootstrap night's fresh docs
    boot = kinds[0]["fresh"]
    retract = sorted(int(x) for x in rng.choice(boot, max(1, len(boot) // 10), replace=False))
    lines = [f"night\t{b}\t{k}\t{','.join(map(str, v))}"
             for b, kind in enumerate(kinds) for k, v in sorted(kind.items())]
    lines += [f"exact\t{e}\t{s}" for e, s in exact_src]
    lines.append(f"retract\t{','.join(map(str, retract))}")
    with open(f"{out}/manifest.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")
