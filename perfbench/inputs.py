"""Seeded benchmark inputs, generated with numpy/pyarrow only.

The package's own generators (``sources.synth_transcripts``) are not used,
so a change to ``sources`` cannot change what the benchmark feeds it.

* ``transcript_corpus`` — the transcript table (FIXTURES.md §1 shape):
  conversations of 5-64 turns, two mega-conversations of ~1% of the turns
  each, tool invocation/result pairs, lognormal text lengths and >30 min
  gaps.
* ``star_tables`` — the star-schema tables the registry queries read
  (TESTDATA.md shape: region nation customer supplier part orders lineitem
  events documents embeddings) at about the 0.01 scale factor, plus a tenth
  of the documents as near-duplicates so the similarity queries find pairs.

Both are cached as parquet under ``<cache>/<name>-v<version>-s<seed>-n<size>``
and rebuilt only when the key changes. Bump ``GENERATOR_VERSION`` whenever
the output of either generator changes.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
N_FILES = 8  # transcript corpus files
STAR_SCALE = 0.01  # TPC-H-style scale factor of the star tables

_WORDS = (
    "fast spark line small customer group value hash batch sort data big "
    "filter dup key agg scan slow table part a merge window order column "
    "join vector row the query stream"
).split()
_TOOLS = np.array(["search", "exec", "browse", "db"])
_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
_DAY_US = 86_400 * 1_000_000


def _cached(cache: Path, key: str, build) -> Path:
    out = cache / key
    if (out / "_DONE").exists():
        return out
    tmp = cache / f".{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def _texts(rng: np.random.Generator, n: int, mu: float, sigma: float) -> list[str]:
    """n strings of dictionary words with lognormal(mu, sigma) char length."""
    target = np.clip(rng.lognormal(mu, sigma, n), 1, 4000).astype(np.int64)
    n_words = np.maximum(1, target // 6)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    return [" ".join(words[e - k:e]) for e, k in zip(ends.tolist(), n_words.tolist())]


def transcript_table(seed: int, n_turns: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    mega = max(n_turns // 100, 64)
    sizes = [mega, mega]
    left = n_turns - 2 * mega
    while left > 0:
        k = int(min(rng.integers(5, 65), max(left, 5)))
        sizes.append(k)
        left -= k
    sizes = np.array(sizes, dtype=np.int64)
    rng.shuffle(sizes)
    n_conv, n = len(sizes), int(sizes.sum())

    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    conv = np.repeat(np.arange(n_conv), sizes)
    turn = np.arange(n) - np.repeat(starts, sizes)

    # roles: turn 0 is the user; later turns are user/assistant/tool 40/40/20.
    # A tool turn is the result of the assistant invocation right before it:
    # that assistant turn names the same tool (open/close pair).
    r = rng.random(n)
    role = np.where(r < 0.4, "user", np.where(r < 0.8, "assistant", "tool")).astype(object)
    role[turn == 0] = "user"
    is_tool = role == "tool"
    opener = np.flatnonzero(is_tool) - 1
    role[opener] = "assistant"
    is_tool = role == "tool"
    tool = np.full(n, None, dtype=object)
    names = _TOOLS[rng.integers(0, len(_TOOLS), n)]
    tool[is_tool] = names[is_tool]
    tool[opener[is_tool[opener + 1]]] = names[opener + 1][is_tool[opener + 1]]

    # timestamps: conversation start anywhere in 30 days; lognormal gaps of
    # >= 1 s, with a 3% chance of a 31-120 min gap (session boundary).
    gap_s = np.maximum(1.0, rng.lognormal(3.0, 1.2, n))
    long_gap = rng.random(n) < 0.03
    gap_s[long_gap] = rng.uniform(31 * 60, 120 * 60, int(long_gap.sum()))
    gap_us = (gap_s * 1e6).astype(np.int64)
    gap_us[starts] = 0
    conv_start = _EPOCH_US + rng.integers(0, 30 * _DAY_US, n_conv)
    cum = np.cumsum(gap_us)
    ts = np.repeat(conv_start, sizes) + cum - np.repeat(cum[starts], sizes)

    conv_ids = np.array([f"c{i:06d}" for i in range(n_conv)], dtype=object)[conv]
    return pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(_texts(rng, n, 4.0, 1.0), pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def transcript_corpus(cache: Path, seed: int, n_turns: int) -> Path:
    """Directory of N_FILES parquet files; conversations never straddle files."""

    def build(out: Path) -> None:
        t = transcript_table(seed, n_turns)
        conv = t.column("conv_id").to_numpy(zero_copy_only=False)
        cuts = np.linspace(0, len(conv), N_FILES + 1).astype(int)
        for i in range(1, N_FILES):  # move each cut to a conversation start
            c = cuts[i]
            while 0 < c < len(conv) and conv[c] == conv[c - 1]:
                c += 1
            cuts[i] = c
        for i in range(N_FILES):
            lo, hi = cuts[i], max(cuts[i + 1], cuts[i])
            if hi > lo:
                pq.write_table(t.slice(lo, hi - lo), out / f"part-{i:03d}.parquet")

    return _cached(cache, f"transcripts-v{GENERATOR_VERSION}-s{seed}-n{n_turns}", build)


def _star(out: Path, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, k), 2)

    def date_us(y0: int, y1: int, k: int) -> np.ndarray:
        lo = np.datetime64(f"{y0}-01-01", "D").astype(np.int64)
        hi = np.datetime64(f"{y1}-01-01", "D").astype(np.int64)
        return rng.integers(lo, hi, k) * _DAY_US

    sf = STAR_SCALE
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs, n_vec = int(1_000_000 * sf), 150, 500, 500

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
    noun = np.array(["ring", "bolt", "gear", "anvil", "widget", "rod", "plate", "gizmo"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    pk = np.arange(n_part)
    write("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = date_us(1995, 2001, n_ord) + 212 * _DAY_US
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, n_line) * _DAY_US,
                               pa.timestamp("us")),
    })
    ev_ts = np.sort(rng.choice(30 * _DAY_US, n_ev, replace=False)) + _EPOCH_US
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    text = [" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)])
            for k in rng.integers(10, 100, n_docs)]
    for i in range(0, n_docs, 10):  # near-duplicate: copy + one word swapped
        src = text[(i * 7 + 3) % n_docs].split()
        src[rng.integers(0, len(src))] = _WORDS[rng.integers(0, len(_WORDS))]
        text[i] = " ".join(src)
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": np.array(["en", "en", "en", "fr", "de", "es", "zh"])[rng.integers(0, 7, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    label = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[label] + rng.normal(0, 1.5, (n_vec, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def star_tables(cache: Path, seed: int) -> Path:
    return _cached(cache, f"star-v{GENERATOR_VERSION}-s{seed}-sf{STAR_SCALE}",
                   lambda out: _star(out, seed))
