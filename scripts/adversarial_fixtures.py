#!/usr/bin/env python
"""Derive an ADVERSARIAL fixture directory: sf0.001 plus planted
boundary cases, written to ``.sfdata/adv/`` (gitignored).

Rationale: two latent wrong-answer classes — the dsum 2^53
double-rounding and the borderline-J LSH recall gap — were both caught
by scale sweeps, not fixtures, because the generated fixtures are too
friendly: no
near-threshold similarity pairs, no day-boundary timestamps, ASCII-only
text, moderate float magnitudes.  This generator plants exactly those
regimes so ``scripts/strict_sweep.py .sfdata/adv`` exercises every
strict oracle against them:

* documents — unicode edges (NFC/NFD combining chars, astral-plane
  emoji, zero-width joiners, RTL runs) through tokenizers / shingles /
  BPE; EXACT-threshold Jaccard pairs (J = 0.6 precisely, the >=
  inclusion boundary) plus just-below pairs; degenerate token shapes
  (single token → empty shingle set, all-identical tokens,
  consecutive-space empty tokens).
* events — day-boundary timestamps (1 µs before / exactly at
  midnight), the US DST spring-forward and fall-back instants (UTC
  wall times; engines running a DST-less session must still agree),
  leap day, year boundary; float extremes in ``value`` (±0.0,
  subnormal 5e-324, 1e308 with a -1e308 partner in the same hour —
  order-dependent in naive double sums, exact under the dsum decimal
  contract); a NULL value and a NULL user_id row; JSON props with a
  2^53+1 integer (the double-precision JSON parse boundary).
* lineitem / orders — .xx5 cent-tie prices, zero discount vs -0.0
  discount, zero quantity, boundary ship/order dates aligned with the
  events boundaries.
* embeddings — the zero vector (cosine 0/0), two bit-identical
  vectors (distance ties), a subnormal-magnitude vector, -0.0
  components.

Keys append after each table's max so referential behavior of the base
rows is untouched; planted rows are identically visible to BOTH
engines, so any strict divergence the sweep reports is a real
cross-engine wrong-answer candidate, not fixture drift.

Usage: python scripts/adversarial_fixtures.py
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.001"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".sfdata", "adv")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _append(name: str, rows: list[dict]) -> None:
    base = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
    if rows:
        extra = pa.Table.from_pylist(rows, schema=base.schema)
        base = pa.concat_tables([base, extra])
    pq.write_table(base, os.path.join(DST, f"{name}.parquet"))
    print(f"{name}: +{len(rows)} adversarial rows -> {base.num_rows}")


def _max(name: str, col: str) -> int:
    import pyarrow.compute as pc
    t = pq.read_table(os.path.join(SRC, f"{name}.parquet"), columns=[col])
    return pc.max(t.column(col)).as_py()


def _docs() -> list[dict]:
    next_id = _max("documents", "doc_id") + 1
    w = [f"adv{i}" for i in range(30)]

    def doc(text: str) -> dict:
        nonlocal next_id
        d = {"doc_id": next_id, "text": text, "lang": "en",
             "source": "adv", "n_chars": len(text)}
        next_id += 1
        return d

    rows = []
    # unicode edges: NFC vs NFD composition, astral plane, ZWJ/ZWNJ,
    # RTL — token/shingle/BPE counting must agree across engines
    rows.append(doc("café café café naïve "
                    "coöperate café café words"))
    rows.append(doc("\U0001f600 \U0001d49c \U0001d505 \U0001f600 "
                    "\U0001f389 emoji \U0001f600 astral tokens here"))
    rows.append(doc("a​b a‍b c‌d שלום "
                    "עולם mixed rtl ltr run end"))
    # EXACT J = 0.6 pair: A = w0..w9 (8 shingles), B = w0..w7 x y
    # (shingles w0w1w2..w5w6w7 shared = 6, plus w6w7x, w7xy) →
    # inter 6, union 10, J = 0.6 precisely — the >= inclusion boundary
    rows.append(doc(" ".join(w[0:10])))
    rows.append(doc(" ".join(w[0:8] + ["advx", "advy"])))
    # just-below pair: share 5 of 8/8 → union 11, J ≈ 0.4545
    rows.append(doc(" ".join(w[10:20])))
    rows.append(doc(" ".join(w[10:17] + ["advp", "advq", "advr"])))
    # just-above pair: A 8 shingles, B = w20..w28 minus last token +
    # one new → share 7, union 9, J ≈ 0.778
    rows.append(doc(" ".join(w[20:30])))
    rows.append(doc(" ".join(w[20:29] + ["advz"])))
    # degenerate shapes: single token (EMPTY shingle set → 0/0
    # Jaccard), all-identical tokens (one distinct shingle),
    # consecutive spaces (empty-string tokens in both engines)
    rows.append(doc("lonely"))
    rows.append(doc("same same same same same same"))
    rows.append(doc("gap  gap   gap wide spacing test here now"))
    return rows


def _events() -> list[dict]:
    next_id = _max("events", "event_id") + 1
    rows = []

    def ev(ts, value, etype="purchase", user=7, props='{"k": 1}'):
        nonlocal next_id
        r = {"event_id": next_id, "ts": ts, "user_id": user,
             "event_type": etype, "value": value, "props": props}
        next_id += 1
        return r

    D = dt.datetime
    # day boundary: 1 µs before midnight vs exactly midnight — the
    # day-truncated join family must bucket these consistently
    rows.append(ev(D(2024, 1, 14, 23, 59, 59, 999999), 10.0))
    rows.append(ev(D(2024, 1, 15, 0, 0, 0, 0), 20.0))
    # US DST spring-forward (2024-03-10 02:30 ET does not exist) and
    # fall-back (2024-11-03 01:30 ET repeats) instants, as UTC wall
    # times — a session accidentally running a DST zone diverges here
    rows.append(ev(D(2024, 3, 10, 7, 30, 0, 0), 1.25, "click"))
    rows.append(ev(D(2024, 11, 3, 5, 30, 0, 0), 2.5, "click"))
    # leap day and year boundary
    rows.append(ev(D(2024, 2, 29, 12, 0, 0, 0), 3.75, "view"))
    rows.append(ev(D(2024, 12, 31, 23, 59, 59, 999999), 4.0, "view"))
    rows.append(ev(D(2025, 1, 1, 0, 0, 0, 0), 5.0, "view"))
    # float extremes, same hour so they share every aggregation group:
    # ±0.0, subnormal, and a 4e12 / -4e12 / 1e-4 triple — ulp(4e12) ≈
    # 4.9e-4 > 1e-4, so a naive double sum absorbs the small addend in
    # one association order and keeps it in another, while the dsum
    # FLOOR quantization is order-exact.  4e12·10^6 = 4e18 < 2^63
    # keeps the triple INSIDE dsum's documented loud-failure domain
    # (±1e308 sat outside it — every engine-exact decimal
    # representation overflows, so it only proved both engines fail
    # loudly, which tests/test_functions pins instead).
    h = D(2024, 1, 16, 9)
    rows.append(ev(h.replace(minute=1), 0.0))
    rows.append(ev(h.replace(minute=2), -0.0))
    rows.append(ev(h.replace(minute=3), 5e-324))
    rows.append(ev(h.replace(minute=4), 4e12))
    rows.append(ev(h.replace(minute=5), -4e12))
    rows.append(ev(h.replace(minute=10), 1e-4))
    rows.append(ev(h.replace(minute=6), 9007199254740993.0))  # 2^53+1
    # NULLs through the not-null filters, and the JSON double-precision
    # integer boundary through the props parsers
    rows.append(ev(h.replace(minute=7), None, "error"))
    rows.append(ev(h.replace(minute=8), 6.5, user=None))
    rows.append(ev(h.replace(minute=9), 7.125,
                   props='{"k": 9007199254740993}'))
    return rows


def _lineitem() -> list[dict]:
    base = pq.read_table(os.path.join(SRC, "lineitem.parquet")).slice(0, 1)
    proto = base.to_pylist()[0]
    okey = _max("lineitem", "l_orderkey")
    rows = []

    def li(price, disc, qty, ship, flag="N", status="O"):
        r = dict(proto)
        r.update({"l_orderkey": okey, "l_linenumber": len(rows) + 101,
                  "l_extendedprice": price, "l_discount": disc,
                  "l_quantity": qty, "l_shipdate": ship,
                  "l_returnflag": flag, "l_linestatus": status,
                  "l_tax": 0.05})
        rows.append(r)

    D = dt.datetime
    # .xx5 cent ties (shortest-repr rounding boundary), ±0.0 discount,
    # zero quantity, day-boundary ship dates
    li(1234.565, 0.0, 0.0, D(2024, 1, 14, 23, 59, 59, 999999))
    li(1234.575, -0.0, 1.0, D(2024, 1, 15, 0, 0, 0, 0))
    li(0.005, 0.1, 50.0, D(2024, 2, 29, 12, 0, 0, 0))
    li(99999999.995, 0.05, 2.0, D(2024, 12, 31, 23, 59, 59, 999999))
    return rows


def _orders() -> list[dict]:
    base = pq.read_table(os.path.join(SRC, "orders.parquet")).slice(0, 1)
    proto = base.to_pylist()[0]
    next_key = _max("orders", "o_orderkey") + 1
    rows = []
    D = dt.datetime
    for price, od in [(0.005, D(2024, 1, 14, 23, 59, 59, 999999)),
                      (123456.785, D(2024, 1, 15, 0, 0, 0, 0)),
                      (-0.0, D(2024, 2, 29, 0, 0, 0, 0))]:
        r = dict(proto)
        r.update({"o_orderkey": next_key, "o_totalprice": price,
                  "o_orderdate": od})
        rows.append(r)
        next_key += 1
    return rows


def _embeddings() -> list[dict]:
    next_id = _max("embeddings", "vec_id") + 1
    dim = 64
    rows = []

    def emb(vec, label=5):
        nonlocal next_id
        r = {"vec_id": next_id, "embedding": vec, "label": label}
        next_id += 1
        return r

    rows.append(emb([0.0] * dim))                       # zero vector: 0/0 cosine
    twin = [0.1] * dim
    rows.append(emb(list(twin)))                        # bit-identical pair:
    rows.append(emb(list(twin)))                        #   distance ties
    rows.append(emb([5e-324] * dim))                    # subnormal magnitude
    rows.append(emb([-0.0, 0.0] * (dim // 2)))          # signed zeros
    return rows


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    extra = {"documents": _docs(), "events": _events(),
             "lineitem": _lineitem(), "orders": _orders(),
             "embeddings": _embeddings()}
    for t in TABLES:
        if t in extra:
            _append(t, extra[t])
        else:
            shutil.copy(os.path.join(SRC, f"{t}.parquet"),
                        os.path.join(DST, f"{t}.parquet"))
            print(f"{t}: copied")
    print(f"adversarial fixture dir ready: {DST}")


if __name__ == "__main__":
    main()
