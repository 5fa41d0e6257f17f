"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same triple
gives byte-identical files, another seed gives other keys, other tokens
and other planted defects at the same sizes. Besides the inputs the
program reads, a workload directory holds what the output checks need
(`truth.parquet`, `manifest.json`); the program is never pointed at them.

"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Size knob per workload, in units documented on each generator.
SIZES = {"etl_star": 4, "llm_pretrain": 4}
PARTS = 8  # files per table: enough splits for every core to scan


def rng_for(seed, *labels):
    digest = hashlib.sha256("|".join(map(str, (seed,) + labels)).encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def write_parquet(table, path, parts=PARTS):
    """One table as a directory of `parts` parquet files (row ranges)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(parts):
        lo, hi = n * k // parts, n * (k + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{k:05d}.parquet")


def write_lines(lines, path, ext, parts=PARTS):
    os.makedirs(path, exist_ok=True)
    n = len(lines)
    for k in range(parts):
        lo, hi = n * k // parts, n * (k + 1) // parts
        with open(f"{path}/part-{k:05d}.{ext}", "w", encoding="utf-8", newline="\n") as f:
            f.write("".join(line + "\n" for line in lines[lo:hi]))


# --------------------------------------------------------------------- text

ONSETS = list("bcdfghjklmnprstvwz") + ["br", "ch", "dr", "fl", "gr", "kl", "pr", "sh", "st", "tr"]
VOWELS = list("aeiou") + ["ai", "ea", "ou"]


def vocabulary(rng, n, salt):
    """`n` distinct alphabetic words of one or two syllables; `salt`
    (seed-derived) suffixes every token. Short words keep the page gate's
    mean token length (tokens split on spaces only, so the last word of a
    line joins the first of the next) well inside its limit."""
    words, seen = [], set()
    while len(words) < n:
        syl = rng.integers(1, 3)
        w = "".join(ONSETS[rng.integers(len(ONSETS))] + VOWELS[rng.integers(len(VOWELS))] for _ in range(syl))
        w = w + salt
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def salt_for(seed):
    r = rng_for(seed, "salt")
    return "".join(chr(ord("a") + int(x)) for x in r.integers(0, 26, 2))


def word_sampler(rng, vocab):
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / (ranks + 20.0)
    p /= p.sum()
    return lambda k: rng.choice(len(vocab), size=k, p=p)


def make_docs(rng, vocab, n, dup_share):
    """Sentence-shaped documents (one sentence per line) that pass the
    pre-training page gates, a fifth of them carrying contact details for
    the PII scrub. `dup_share` of them are near-duplicates, each of a
    different original, with about 1 % of the words replaced (Jaccard near
    0.98, so banded MinHash finds every planted pair with near certainty).
    Returns (ids, texts, langs, clusters): a document's cluster is the id
    of the original it copies, or its own id."""
    draw = word_sampler(rng, vocab)
    n_dup = int(round(n * dup_share))
    n_orig = n - n_dup
    docs = []
    for _ in range(n_orig):
        lens = rng.integers(9, 15, int(rng.integers(7, 11)))
        idx = draw(int(lens.sum()))
        bounds = np.concatenate([[0], np.cumsum(lens)])
        sents = [[vocab[j] for j in idx[a:b]] for a, b in zip(bounds[:-1], bounds[1:])]
        if rng.random() < 0.2:
            a, b = vocab[int(rng.integers(len(vocab)))], vocab[int(rng.integers(len(vocab)))]
            pii = f"{a}@{b}.com" if rng.random() < 0.5 else f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"
            sents[int(rng.integers(len(sents)))] += ["contact", pii]
        docs.append(sents)
    source = list(range(n_orig)) + rng.choice(n_orig, size=n_dup, replace=False).tolist()
    for src in source[n_orig:]:
        copy = []
        for sent in docs[src]:
            sent = list(sent)
            for p in np.nonzero(rng.random(len(sent)) < 0.01)[0]:
                sent[p] = vocab[int(draw(1)[0])]
            copy.append(sent)
        docs.append(copy)
    order = rng.permutation(n)
    position = np.empty(n, dtype=np.int64)
    position[order] = np.arange(n)
    texts = ["\n".join(" ".join(sent) + "." for sent in docs[i]) for i in order]
    ids = np.arange(n, dtype=np.int64)
    langs = np.where(rng.random(n) < 0.5, "en", "de")
    clusters = position[np.asarray(source)[order]]
    return ids, texts, langs, clusters


# ----------------------------------------------------------------- workloads

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY",
           "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE",
           "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase"]
DAY0 = np.datetime64("1992-01-01")


def write_feed(out, r, n, key0):
    """The raw event feed: half the lines CSV, half JSONL; 1 % malformed
    (a numeric field that does not parse, or a JSON record cut short) and
    0.5 % invalid (a negative amount). `truth.parquet` holds every event
    with its status, for the output checks."""
    ev = key0 + np.arange(n, dtype=np.int64)
    ts = 1700000000 + np.sort(r.integers(0, 30 * 86400, n))
    user = key0 + r.integers(1, max(2, n // 20), n)
    etype = np.array(EVENT_TYPES)[r.integers(0, 4, n)]
    amount = r.integers(0, 100000, n).astype(np.int64)
    status = np.array(["good"] * n, dtype=object)
    pick = r.permutation(n)
    n_bad, n_invalid = n // 100, n // 200
    status[pick[:n_bad]] = "malformed"
    status[pick[n_bad:n_bad + n_invalid]] = "invalid"
    amount[pick[n_bad:n_bad + n_invalid]] = -1 - amount[pick[n_bad:n_bad + n_invalid]]
    half = n // 2
    csv, jsonl = [], []
    for i in range(n):
        if i < half:
            fields = [str(ev[i]), str(ts[i]), str(user[i]), etype[i], str(amount[i])]
            if status[i] == "malformed":
                fields[[0, 2, 4][int(r.integers(3))]] += "x"
            csv.append(",".join(fields))
        else:
            line = json.dumps({"event_id": int(ev[i]), "ts": int(ts[i]), "user_id": int(user[i]),
                               "event_type": etype[i], "amount_cents": int(amount[i])})
            jsonl.append(line[: len(line) // 2] if status[i] == "malformed" else line)
    write_lines(csv, f"{out}/feed_csv", "csv")
    write_lines(jsonl, f"{out}/feed_jsonl", "jsonl")
    truth = pa.table({"event_id": ev, "ts": ts.astype(np.int64), "user_id": user.astype(np.int64),
                      "event_type": etype, "amount_cents": amount, "status": status.tolist()})
    pq.write_table(truth, f"{out}/truth.parquet")
    return {"lines": n, "malformed": n_bad, "invalid": n_invalid, "injected_bad": n_bad + n_invalid}


def gen_etl_star(out, seed, size):
    """size 1 = 60k lineitem, 15k orders, 1.5k customers (sf0.01-like) and a
    10k-line event feed."""
    r = rng_for(seed, "etl_star", size)
    n_li, n_ord, n_cust, n_feed = 60000 * size, 15000 * size, 1500 * size, 10000 * size
    key0 = int(r.integers(1, 1000)) * 1000000  # seed-shifted key space
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": NATIONS, "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    cust_keys = key0 + np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table({"c_custkey": cust_keys,
                         "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                         "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    ord_keys = key0 + np.arange(1, n_ord + 1, dtype=np.int64)
    ord_days = r.integers(0, 2405, n_ord)
    orders = pa.table({"o_orderkey": ord_keys, "o_custkey": cust_keys[r.integers(0, n_cust, n_ord)],
                       "o_orderdate": pa.array(DAY0 + ord_days.astype("timedelta64[D]"), pa.date32()),
                       "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    li_ord = r.integers(0, n_ord, n_li)
    lineitem = pa.table({
        "l_orderkey": ord_keys[li_ord],
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_li), pa.int32()),
        "l_price_cents": r.integers(90000, 10500000, n_li).astype(np.int64),
        "l_discount_pct": pa.array(r.integers(0, 11, n_li), pa.int32()),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_shipdate": pa.array(DAY0 + (ord_days[li_ord] + r.integers(1, 122, n_li)).astype("timedelta64[D]"),
                               pa.date32())})
    tables = {"nation": nation, "customer": customer, "orders": orders, "lineitem": lineitem}
    for name, t in tables.items():
        write_parquet(t, f"{out}/{name}.parquet", parts=1 if t.num_rows < 1000 else PARTS)
    facts = write_feed(out, r, n_feed, key0)
    facts.update({"input_rows": n_li + n_feed, "rows": {k: t.num_rows for k, t in tables.items()}})
    return facts


def gen_llm_pretrain(out, seed, size):
    """size 1 = 500 documents, 10 % of them planted near-duplicates."""
    r = rng_for(seed, "llm_pretrain", size)
    vocab = vocabulary(rng_for(seed, "vocab"), 6000, salt_for(seed))
    ids, texts, langs, clusters = make_docs(r, vocab, 500 * size, dup_share=0.1)
    pa_docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
                        "lang": pa.array(langs.tolist(), pa.string())})
    write_parquet(pa_docs, f"{out}/documents.parquet")
    pq.write_table(pa.table({"doc_id": ids, "cluster": clusters}), f"{out}/truth.parquet")
    n_clusters = len(set(clusters.tolist()))
    return {"input_rows": len(ids), "documents": len(ids), "clusters": n_clusters,
            "planted_near_duplicates": len(ids) - n_clusters}


GENERATORS = {"etl_star": gen_etl_star, "llm_pretrain": gen_llm_pretrain}


def generate(workload, seed, size, root):
    """Inputs for (workload, seed, size) under `root`, generated once and
    cached; the cache key includes this file's hash, so a changed generator
    never serves stale inputs."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    path = os.path.join(root, f"{workload}-s{seed}-z{size}-g{version}")
    if os.path.exists(os.path.join(path, "manifest.json")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = GENERATORS[workload](tmp, seed, size)
    facts.update({"workload": workload, "seed": seed, "size": size})
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(facts, f, sort_keys=True, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
