#!/usr/bin/env python3
"""Differential-fuzz corpus generator: a seeded, DIRTY random corpus in the
driver's exact parquet schemas (incl. timestamp[ns] events and timestamp[ms]
orders/lineitem), so the full Verify + driver-mirror gate can run on inputs
the fixed testdata never shows it — NULL keys, unicode, negatives, duplicate
ids, empty/whitespace texts, empty vectors, malformed JSON.

Every value is a pure function of (seed, row); re-running reproduces the
corpus bit-for-bit. Seed 0 is special: a tiny DEGENERATE-graph corpus
(empty HNSW delete decile, isolated vectors, single-doc increment,
sub-window docs) aimed at the edge laws of the graph/window queries.
Usage:

    tools/fuzz_gen.py <outDir> [seed]

then:

    sbt "runMain graft.Verify <outDir> /tmp/fuzz_out"
    tools/verify_driver_mirror.py <outDir> /tmp/fuzz_out

(tools/fuzz_gate.sh runs both for a list of seeds.) Any FAIL is a real
latent cross-engine divergence (the class every ADVICE finding so far has
belonged to), not box noise: both engines read the same files and the
compare is the driver's own, dtype-exact canonicalization.

Kept inside documented domains on purpose: |money| <= 1e6 and value counts
small enough that the stats_agg sum-of-squares int64 bound (~30M units,
StarPoisonSpec) cannot overflow, timestamps within a 10-day window so
hour-grid queries stay bounded.
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("window merge agg hash order data slow key scan table dup group "
         "join sort shuffle spill broadcast filter plan stage task row "
         "column batch stream state cache skew salt codegen limit").split()
DIRTY_WORDS = ["héllo", "wörld", "中文", "🚀", "naïve", "Ünicode", "x" * 40]
LANGS = ["en", "de", "es", "fr", "zh"]
DIRTY_LANGS = [None, "", "xx", "PT-br"]
TYPES = ["click", "view", "signup", "purchase", "error"]


def main():
    out = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    # seed 0 = the DEGENERATE-graph corpus: tiny tables pinning the edge
    # laws the big dirty seeds can't reach — an EMPTY HNSW delete decile
    # (vec_ids 5..14: md5("ins:"+id) puts none in decile 9), isolated
    # vectors (10 random dim-16 vectors rarely share an LSH bucket →
    # empty candidate graphs), a SINGLE-doc increment (docs 0 and 10 are
    # the %10 slice; doc 0's text is NULL), sub-window docs (< 8 tokens),
    # an exactly-8-token doc and its verbatim cross-doc duplicate.
    degen = seed == 0
    rng = np.random.default_rng(seed)
    import os
    os.makedirs(out, exist_ok=True)

    def write(name, schema, cols):
        pq.write_table(pa.table(cols, schema=schema), f"{out}/{name}.parquet")

    def opt(vals, p_null):
        """NULL out a p_null fraction (vals: python list)."""
        mask = rng.random(len(vals)) < p_null
        return [None if m else v for v, m in zip(vals, mask)]

    # ---- region / nation: tiny dims with one NULL name + unicode
    write("region",
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
        {"r_regionkey": pa.array([0, 1, 2, 3, 4], pa.int32()),
         "r_name": ["AMERICA", None, "ASIA🚀", "", "EUROPE"]})
    nk = list(range(25))
    write("nation",
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]),
        {"n_nationkey": pa.array(nk, pa.int32()),
         "n_name": opt([f"NATION_{i}" if i % 7 else f"nação_{i}" for i in nk], 0.08),
         # some orphan regions (99) — referential-integrity dirt
         "n_regionkey": pa.array(
            [99 if i % 11 == 10 else i % 5 for i in nk], pa.int32())})

    # ---- customer / supplier: negative + NULL balances, orphan nations
    nc = 30 if degen else 300
    ck = list(range(1, nc + 1)) + [5, 6]  # duplicate keys 5, 6
    write("customer",
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
        {"c_custkey": pa.array(ck, pa.int64()),
         "c_name": opt([f"Cust#{i}" if i % 9 else f"客户{i}🚀" for i in ck], 0.05),
         "c_nationkey": pa.array(
            opt([99 if i % 17 == 0 else int(i % 25) for i in ck], 0.05), pa.int32()),
         "c_acctbal": pa.array(
            opt([round(float(rng.uniform(-5000, 1e6)), 2) for _ in ck], 0.05),
            pa.float64()),
         "c_mktsegment": opt(
            [rng.choice(["BUILDING", "AUTO", "", "MACHINERY"]) for _ in ck], 0.05)})
    ns_ = 5 if degen else 20
    sk = list(range(1, ns_ + 1))
    write("supplier",
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
        {"s_suppkey": pa.array(sk, pa.int64()),
         "s_name": opt([f"Supp#{i}" for i in sk], 0.1),
         "s_nationkey": pa.array(opt([int(i % 25) for i in sk], 0.1), pa.int32()),
         "s_acctbal": pa.array(
            opt([round(float(rng.uniform(-100, 1e5)), 2) for _ in sk], 0.1),
            pa.float64())})

    # ---- part
    np_ = 40 if degen else 400
    pk = list(range(1, np_ + 1))
    write("part",
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
        {"p_partkey": pa.array(pk, pa.int64()),
         "p_name": opt([" ".join(rng.choice(VOCAB, 3)) for _ in pk], 0.04),
         "p_brand": [f"B{i % 5}" for i in pk],
         "p_type": opt([f"TYPE {i % 7}" for i in pk], 0.04),
         "p_size": pa.array(opt([int(i % 50) for i in pk], 0.04), pa.int32()),
         "p_retailprice": pa.array(
            opt([round(float(rng.uniform(1, 2000)), 2) for _ in pk], 0.04),
            pa.float64())})

    # ---- orders: ms timestamps, NULL/negative/zero prices, dup + orphan keys
    no = 120 if degen else 3000
    ok = list(range(1, no + 1)) + [7, 7]  # triple key 7
    base_ms = 1704067200000  # 2024-01-01 UTC
    write("orders",
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("ms")),
                   ("o_orderpriority", pa.string())]),
        {"o_orderkey": pa.array(ok, pa.int64()),
         "o_custkey": pa.array(
            opt([int(rng.integers(1, nc + 40)) for _ in ok], 0.03), pa.int64()),
         "o_orderstatus": opt([rng.choice(["F", "O", "P", ""]) for _ in ok], 0.03),
         "o_totalprice": pa.array(
            opt([round(float(rng.uniform(-1000, 500000)), 2) for _ in ok], 0.03),
            pa.float64()),
         "o_orderdate": pa.array(
            opt([base_ms + int(rng.integers(0, 90 * 86400000)) for _ in ok], 0.03),
            pa.timestamp("ms")),
         "o_orderpriority": opt(
            [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                         "5-LOW", "dirty 🚀"]) for _ in ok], 0.03)})

    # ---- lineitem: dirty measures, orphan FKs, duplicate line ids
    nl = 400 if degen else 12000
    lo = [int(rng.integers(1, no + 60)) for _ in range(nl)]
    write("lineitem",
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("ms"))]),
        {"l_orderkey": pa.array(opt(lo, 0.02), pa.int64()),
         "l_partkey": pa.array(
            opt([int(rng.integers(1, np_ + 20)) for _ in range(nl)], 0.02), pa.int64()),
         "l_suppkey": pa.array(
            opt([int(rng.integers(1, ns_ + 5)) for _ in range(nl)], 0.02), pa.int64()),
         "l_linenumber": pa.array([int(i % 7) + 1 for i in range(nl)], pa.int32()),
         "l_quantity": pa.array(
            opt([round(float(rng.uniform(-5, 50)), 2) for _ in range(nl)], 0.02),
            pa.float64()),
         "l_extendedprice": pa.array(
            opt([round(float(rng.uniform(0, 90000)), 2) for _ in range(nl)], 0.02),
            pa.float64()),
         "l_discount": pa.array(
            opt([round(float(rng.uniform(0, 1.5)), 2) for _ in range(nl)], 0.02),
            pa.float64()),
         "l_tax": pa.array(
            opt([round(float(rng.uniform(-0.1, 0.3)), 2) for _ in range(nl)], 0.02),
            pa.float64()),
         "l_returnflag": opt([rng.choice(["N", "R", "A", "漢"]) for _ in range(nl)], 0.02),
         "l_linestatus": opt([rng.choice(["O", "F", ""]) for _ in range(nl)], 0.02),
         "l_shipdate": pa.array(
            opt([base_ms + int(rng.integers(0, 100 * 86400000)) for _ in range(nl)], 0.02),
            pa.timestamp("ms"))})

    # ---- events: ns timestamps in a 10-day window (hour grids stay small),
    # negative + huge-ish values, malformed JSON, NULL types
    ne = 800 if degen else 20000
    base_ns = 1704067200 * 10**9
    write("events",
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("ns")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]),
        {"event_id": pa.array(
            [7 if i == 13 else i for i in range(ne)], pa.int64()),  # dup id 7
         "ts": pa.array(
            opt([base_ns + int(rng.integers(0, 10 * 86400)) * 10**9 +
                 int(rng.integers(0, 10**6)) * 1000 for _ in range(ne)], 0.01),
            pa.timestamp("ns")),
         "user_id": pa.array(
            opt([int(rng.integers(1, 400)) for _ in range(ne)], 0.01), pa.int64()),
         "event_type": opt(
            [rng.choice(TYPES + ["", "weird type🚀"]) for _ in range(ne)], 0.02),
         "value": pa.array(
            opt([round(float(rng.uniform(-200, 2000)), 2) for _ in range(ne)], 0.03),
            pa.float64()),
         "props": opt(
            [rng.choice(['{"k": 1}', '{"k": -7, "s": "x"}', "not json", "",
                         '{"nested": {"k": 2}}']) for _ in range(ne)], 0.05)})

    # ---- documents: dirty texts — empty, whitespace, unicode, punct/case
    # variants (canonical-dedup bait), degenerate repeats, exact dups
    if degen:
        # 12 docs pinning window/increment edge laws: the %10 increment
        # slice is {0, 10}; doc 0 is NULL → a SINGLE live increment doc.
        # W = 8 (2^dblRounds): docs 3/5 are below the window width, doc 4
        # is EXACTLY one window, doc 6 repeats it verbatim (cross-doc
        # full-window dup), doc 7 embeds it mid-text (span-extract bait).
        w8 = "alpha beta gamma delta epsilon zeta eta theta"
        d9 = " ".join(rng.choice(VOCAB, 30))
        dtexts = [
            None,                                    # 0: poisoned increment
            "",                                      # 1
            "   ",                                   # 2
            "alpha",                                 # 3: single token
            w8,                                      # 4: exactly W tokens
            "iota kappa lambda mu nu xi omicron",    # 5: W-1 tokens
            w8,                                      # 6: verbatim dup of 4
            " ".join(rng.choice(VOCAB, 12)) + " " + w8 + " "
                + " ".join(rng.choice(VOCAB, 12)),   # 7: window mid-doc
            " ".join(["dup"] * 100),                 # 8: degenerate repeat
            d9,                                      # 9
            d9,                                      # 10: THE increment doc
            " ".join(rng.choice(VOCAB, 15)) + " héllo 中文",  # 11
        ]
        nd = len(dtexts)
    else:
        nd = 500
    texts = []
    if degen:
        texts = dtexts
    for i in range(0 if degen else nd):
        r = rng.random()
        if r < 0.03:
            texts.append(None)
        elif r < 0.06:
            texts.append("")
        elif r < 0.08:
            texts.append("   ")
        elif r < 0.12:
            words = list(rng.choice(VOCAB, int(rng.integers(3, 30))))
            words[0] = words[0].upper() + ","
            texts.append(" ".join(words) + "!")
        elif r < 0.15:
            texts.append(" ".join(["dup"] * int(rng.integers(50, 400))))
        elif r < 0.18:
            texts.append(" ".join(rng.choice(VOCAB + DIRTY_WORDS,
                                             int(rng.integers(5, 60)))))
        elif r < 0.22 and texts and texts[-1]:
            texts.append(texts[-1])  # exact dup of the previous doc
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(1, 90)))))
    write("documents",
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
        {"doc_id": pa.array(list(range(nd)), pa.int64()),
         "text": texts,
         "lang": [rng.choice(LANGS) if rng.random() > 0.1
                  else rng.choice(DIRTY_LANGS) for _ in range(nd)],
         "source": [f"src{int(rng.integers(0, 20))}" if rng.random() > 0.05
                    else rng.choice([None, "", "weird source🚀"]) for _ in range(nd)],
         "n_chars": pa.array(
            [None if t is None else len(t) for t in texts], pa.int64())})

    # ---- embeddings: dim-16 floats, a NULL vector, empty vectors, a
    # ragged (dim-8) vector, NULL labels
    if degen:
        # vec_ids {0..3} ∪ {5..14} carry the only VALID vectors:
        # md5("ins:"+id) lands none of them in insert-clock decile 9
        # (id 4 — the one small id in decile 9 — is deliberately
        # ABSENT), so the HNSW delete/maintain audits see an EMPTY
        # delete decile while the serve queries (vec_id < 5: ids 0..3)
        # still exist; 14 random vectors also rarely share an LSH
        # bucket (isolated nodes → empty candidate graphs). ids 15/16
        # are NULL/empty dirt, filtered out of every quantized base.
        vids = [0, 1, 2, 3] + list(range(5, 17))
        vecs = [[float(x) for x in rng.uniform(-1, 1, 16)]
                for _ in range(14)] + [None, []]
        write("embeddings",
            pa.schema([("vec_id", pa.int64()),
                       ("embedding", pa.list_(pa.float32())),
                       ("label", pa.int32())]),
            {"vec_id": pa.array(vids, pa.int64()),
             "embedding": pa.array(vecs, pa.list_(pa.float32())),
             "label": pa.array(opt([int(i % 3) for i in vids], 0.2),
                               pa.int32())})
        print(f"[fuzz-gen] seed={seed} wrote 10 DEGENERATE tables to {out}")
        return
    nv = 400
    vecs = []
    for i in range(nv):
        r = rng.random()
        if r < 0.02:
            vecs.append(None)
        elif r < 0.04:
            vecs.append([])
        elif r < 0.06:
            vecs.append([float(x) for x in rng.uniform(-1, 1, 8)])
        else:
            vecs.append([float(x) for x in rng.uniform(-1, 1, 16)])
    write("embeddings",
        pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
        {"vec_id": pa.array(list(range(nv)), pa.int64()),
         "embedding": pa.array(vecs, pa.list_(pa.float32())),
         "label": pa.array(
            opt([int(i % 8) for i in range(nv)], 0.03), pa.int32())})

    print(f"[fuzz-gen] seed={seed} wrote 10 dirty tables to {out}")


if __name__ == "__main__":
    main()
