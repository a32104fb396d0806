"""Seeded input generation for the benchmark.

Everything the engine reads is made here, inside the benchmark's work
directory, from a seed:

- ``fixtures``: the ten fixture tables (``sources.catalog.TABLES``) in
  the schemas of ``FIXTURES.md``.  A small base corpus is drawn from
  numpy's generator and then replicated ten times with
  ``tools/gen_sf.py``, unmodified, which gives the row counts of the
  sf0.01 fixtures with the near-duplicate structure replicated rather
  than cloned.
- ``write_request_file``: one JSON-lines file of ingest requests made by
  ``trades_source.gen_row``; the seed picks the index offset.
- ``write_doc_backlog``: the near-dup stream's pre-staged backlog,
  salted so every replica carries novel tokens.
- ``trends_sequence``: the trends API's request sequence.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib.util
import json
import os
import sys
import time

import numpy as np
import pandas as pd

#: the batch and trends fixtures do not depend on the run's seed (for
#: those workloads the seed orders queries and requests), so every run
#: reads the same tables
FIXTURE_SEED = 42
REPLICAS = 10

_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()


def _day_range(rng, n, start, end):
    days = (end - start).days
    return pd.to_datetime(start) + pd.to_timedelta(
        rng.integers(0, days + 1, n), unit="D")


def _write(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False, engine="pyarrow")


def _base_tables(out: str, seed: int) -> None:
    """The base corpus, in the fixture schemas: the sf0.001 row counts,
    except documents and embeddings, which the fixtures do not scale
    linearly; ten replicas of 50 give the 500 of the sf0.01 fixtures."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 150, 10, 200, 1500, 6000
    n_ev, n_doc, n_emb, dim = 1000, 50, 50, 64

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _day_range(rng, n_ord, dt.date(1995, 1, 1),
                                  dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _day_range(rng, n_li, dt.date(1995, 1, 2),
                                 dt.date(2001, 11, 4)),
    }), f"{out}/lineitem.parquet")
    # events: January 2024 at microsecond precision, time-ordered ids
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(ts_us, unit="us"),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0)
                          + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    # documents: random token runs; 5% are an earlier doc plus " dup"
    # (near duplicates) and 1% exact copies, as in the sf0.1 fixtures
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 5 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 5 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, n)))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")
    # embeddings: unit vectors around ten label centroids
    centroids = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    }), f"{out}/embeddings.parquet")


def _gen_sf_module(repo_root: str):
    path = os.path.join(repo_root, "tools", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("_bench_gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixtures(repo_root: str, work: str, seed: int = FIXTURE_SEED) -> str:
    """Write the base corpus and its ten-replica scale-up; return the
    scaled directory."""
    base, scaled = f"{work}/base", f"{work}/sf0.01"
    os.makedirs(base, exist_ok=True)
    _base_tables(base, seed)
    # gen_sf prints one line per table; keep stdout for the result line
    with contextlib.redirect_stdout(sys.stderr):
        _gen_sf_module(repo_root).generate(base, scaled, REPLICAS)
    return scaled


def write_request_file(path: str, start: int, n: int) -> None:
    """Requests ``start .. start+n-1`` of the deterministic trade
    generator, in the ingest JSON shape, written atomically (the file
    source must never list a half-written file)."""
    from currency_market_pulse_spark.sources.trades_source import gen_row

    keys = ("userId", "currencyFrom", "currencyTo", "amountSell",
            "amountBuy", "rate", "timePlaced", "originatingCountry")
    lines = [json.dumps(dict(zip(keys, gen_row(i))))
             for i in range(start, start + n)]
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)),
                       "." + os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def write_doc_backlog(docs_dir: str, base_docs: str, seed: int,
                      n_files: int, per_file: int) -> list[tuple[int, str]]:
    """Stage ``n_files`` JSON-lines files of ``per_file`` documents in a
    seeded order.  Most documents come from the base corpus; each pass
    over it is a replica whose tokens carry a salt unique to (seed,
    replica), so the standing index keeps growing and compacting
    instead of re-flagging copies.  One document in ten is an earlier
    staged document plus one token (a near duplicate) and a few are
    exact copies, inside a batch and across batches.  Returns every
    staged (doc_id, text)."""
    texts = pd.read_parquet(base_docs, columns=["text"])["text"].tolist()
    rng = np.random.default_rng(seed)
    os.makedirs(docs_dir, exist_ok=True)
    t0 = time.time() - n_files - 60
    staged: list[tuple[int, str]] = []
    order: list[int] = []
    replica = 0
    for f in range(n_files):
        rows = []
        for _ in range(per_file):
            r = rng.random()
            if staged and r < 0.1:
                text = staged[int(rng.integers(0, len(staged)))][1] + " dup"
            elif staged and r < 0.13:
                text = staged[int(rng.integers(0, len(staged)))][1]
            else:
                if not order:
                    order = list(rng.permutation(len(texts)))
                    replica += 1
                salt = f"s{seed}r{replica}"
                text = " ".join(salt + w for w in texts[order.pop()].split())
            doc_id = len(staged)
            staged.append((doc_id, text))
            rows.append(json.dumps({"doc_id": doc_id, "text": text}))
        path = os.path.join(docs_dir, f"docs_{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(rows) + "\n")
        # the file source takes the oldest file first; one second apart,
        # file k is always doc batch k
        os.utime(path, (t0 + f, t0 + f))
    return staged


#: currency pairs of ``events_as_trades``: upper(substr(event_type, 1, 3))
#: against USD
TREND_PAIRS = [(e[:3].upper(), "USD") for e in _EVENT_TYPES]
TREND_SPANS_DAYS = (1, 2, 7)
#: every third request repeats one of the last ``REPEAT_WINDOW`` keys
REPEAT_EVERY = 3
REPEAT_WINDOW = 4


def trends_sequence(seed: int, n: int) -> list[tuple]:
    """``n`` requests (date_from, date_to, currency_from, currency_to).
    Request i repeats a recent key when ``i % REPEAT_EVERY`` is the last
    slot and is a fresh key otherwise; fresh keys are drawn without
    replacement.  Inside the cache TTL a request is then a hit exactly
    when it repeats, so the hit share is ``(n // 3) / n``, below one
    half, whatever the seed."""
    rng = np.random.default_rng(seed)
    keys = [(day, span, pair) for pair in TREND_PAIRS
            for span in TREND_SPANS_DAYS
            for day in range(1, 32 - span)]
    fresh = [keys[i] for i in rng.permutation(len(keys))]
    if n - n // REPEAT_EVERY > len(fresh):
        raise ValueError(f"at most {len(fresh)} fresh trends keys")
    seq: list[tuple] = []
    for i in range(n):
        if i % REPEAT_EVERY == REPEAT_EVERY - 1:
            recent = seq[-REPEAT_WINDOW:]
            seq.append(recent[int(rng.integers(0, len(recent)))])
        else:
            seq.append(fresh.pop())
    out = []
    for day, span, (cf, ct) in seq:
        start = dt.datetime(2024, 1, day)
        out.append((start, start + dt.timedelta(days=span), cf, ct))
    return out
