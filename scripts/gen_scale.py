#!/usr/bin/env python
"""Deterministic scale-up generator: builds an sf(0.1*MULT)-equivalent
dataset from /root/testdata/sf0.1 by keyed replication + reseeded
regeneration, preserving every schema byte-for-byte (pyarrow types,
timestamp units, float32 embedding lists).

Usage:
    python scripts/gen_scale.py --mult 10 --out spark-warehouse/sf1
    python scripts/gen_scale.py --mult 3  --out spark-warehouse/sf0.3

Design (why replication is NOT a naive 10x copy):

* Relational tables (customer/supplier/part/orders/lineitem/events):
  replica r offsets every key by r * (max_key+1), so FK integrity holds
  within each replica and key spaces stay dense 0..N*mult-1.  Synthetic
  name columns (Customer#/Supplier#) are re-derived from the new key so
  name<->key bijections survive.  Value columns are carried verbatim:
  the marginal distributions the optimizer and the skew/salting logic
  see are exactly sf0.1's.  Events keep their 30-day timestamp window
  and gain 10x users — i.e. scale adds SERIES, not series length, which
  is the realistic model for the per-series sequential kernels.

* documents / embeddings are REGENERATED for replicas r>0 (same
  generating distribution, reseeded), never copied.  A verbatim copy
  would make every doc/vector a 10-way exact duplicate, inflating
  dedup/near-dup pair counts quadratically with MULT — a replication
  artifact, not a property of the data model.  Instead:
    - documents: per-doc word count, lang and source are carried from
      the source row; words are drawn from the per-lang empirical
      unigram distribution.  Exact-duplicate groups and 64-char-prefix
      collision groups (the corpus' seeded dedup targets, see
      TESTDATA.md / CLAUDE.md) are mirrored per replica: group members
      share a generated body / a generated >=64-char prefix, so the
      seeded-dup density stays LINEAR in MULT by construction.
    - embeddings: unit-norm float32 vectors sampled as
      normalize(N(0, I_64) + beta * label_centroid_unit) with beta
      calibrated so the mean cosine-to-centroid matches sf0.1 (~0.07).
      Labels carried from the source rows (histogram preserved).  Note
      the corpus is deliberately "continuous mass" at tau=0.45
      (tests/test_llm_ops.py::test_near_dup_tau_sits_in_continuous_mass):
      background pairs above a fixed low tau grow ~quadratically in n
      for ANY iid generator — that is intrinsic to the data model and
      is accounted for separately in SCALING.md, not hidden here.

Everything is seeded from SeedSequence([42, mult, replica, table_id]):
same inputs -> bit-identical output, any number of runs.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC_DEFAULT = "/root/testdata/sf0.1"

_TABLE_IDS = {
    "customer": 1,
    "supplier": 2,
    "part": 3,
    "orders": 4,
    "lineitem": 5,
    "events": 6,
    "documents": 7,
    "embeddings": 8,
}


def _rng(mult: int, replica: int, table: str) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([42, mult, replica, _TABLE_IDS[table]])
    )


def _offset(col: pa.ChunkedArray, delta: int) -> pa.Array:
    return pc.add(col, pa.scalar(delta, type=col.type)).combine_chunks()


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    print(f"  {name}: {table.num_rows} rows -> {path}")


def _replicate_keyed(
    src: pa.Table, mult: int, key_offsets: dict[str, int],
    names: dict[str, str] | None = None,
) -> pa.Table:
    """mult copies of ``src`` with per-replica key offsets; ``names``
    maps a name column to a printf pattern re-derived from a key col,
    written as ``{name_col: (pattern, key_col)}``.

    Replica r occupies key range [r*base, (r+1)*base) for every key
    column, so replicas collide iff a source key falls outside
    [0, base).  The callers derive ``base`` from row counts, which is
    only correct for dense 0..N-1 key spaces — assert that invariant
    here rather than trusting it, so a regenerated testdata drop with
    sparse or shifted keys fails loudly instead of silently producing
    duplicate PKs / broken FK joins in the rehearsal data."""
    for col, base in key_offsets.items():
        mn = pc.min(src[col]).as_py()
        mx = pc.max(src[col]).as_py()
        if mn < 0 or mx >= base:
            raise ValueError(
                f"key column {col!r} spans [{mn}, {mx}] but the replica "
                f"period is {base}; offsets would collide across "
                f"replicas — recompute the period as max(key)+1"
            )
    reps = []
    for r in range(mult):
        t = src
        for col, base in key_offsets.items():
            idx = t.schema.get_field_index(col)
            t = t.set_column(idx, t.field(idx), _offset(t[col], r * base))
        if names:
            for name_col, (pattern, key_col) in names.items():
                idx = t.schema.get_field_index(name_col)
                keys = t[key_col].to_numpy()
                arr = pa.array([pattern % k for k in keys], type=t[name_col].type)
                t = t.set_column(idx, t.field(idx), arr)
        reps.append(t)
    return pa.concat_tables(reps).combine_chunks()


def _gen_documents(src: pa.Table, mult: int) -> pa.Table:
    n = src.num_rows
    texts = src["text"].to_pylist()
    langs = src["lang"].to_pylist()

    # Per-lang empirical unigram distribution of the source corpus.
    lang_vocab: dict[str, tuple[list[str], np.ndarray]] = {}
    from collections import Counter, defaultdict

    per_lang: dict[str, Counter] = defaultdict(Counter)
    for txt, lg in zip(texts, langs):
        per_lang[lg].update(txt.split(" "))
    for lg, cnt in per_lang.items():
        words = sorted(cnt)
        freq = np.array([cnt[w] for w in words], dtype=np.float64)
        lang_vocab[lg] = (words, freq / freq.sum())

    word_counts = [len(t.split(" ")) for t in texts]

    # Seeded structure to mirror per replica: exact-dup groups (same
    # full text) and 64-char-prefix collision groups.
    body_key: dict[str, int] = {}
    body_group = [body_key.setdefault(t, i) for i, t in enumerate(texts)]
    pref_key: dict[str, int] = {}
    pref_group = [pref_key.setdefault(t[:64], i) for i, t in enumerate(texts)]
    pref_sizes = Counter(pref_group)

    out_texts: list[str] = [""] * (n * mult)
    out_texts[:n] = texts  # replica 0 is the source corpus verbatim
    for r in range(1, mult):
        rng = _rng(mult, r, "documents")
        # one generated body per distinct source text, so exact-dup
        # groups stay exact-dup groups within the replica
        bodies: dict[int, str] = {}
        prefixes: dict[int, str] = {}
        for i in range(n):
            g = body_group[i]
            if g not in bodies:
                words, p = lang_vocab[langs[g]]
                k = word_counts[g]
                bodies[g] = " ".join(
                    words[j] for j in rng.choice(len(words), size=k, p=p)
                )
            txt = bodies[g]
            pg = pref_group[i]
            if pref_sizes[pg] > 1:
                # collision group: shared >=64-char word prefix
                if pg not in prefixes:
                    words, p = lang_vocab[langs[pg]]
                    pref = ""
                    while len(pref) < 64:
                        pref += ("" if not pref else " ") + words[
                            rng.choice(len(words), p=p)
                        ]
                    prefixes[pg] = pref
                txt = prefixes[pg] + " " + txt
            out_texts[r * n + i] = txt

    doc_ids = np.concatenate(
        [src["doc_id"].to_numpy() + r * n for r in range(mult)]
    )
    out = pa.table(
        {
            "doc_id": pa.array(doc_ids, type=src.schema.field("doc_id").type),
            "text": pa.array(out_texts, type=src.schema.field("text").type),
            "lang": pa.array(langs * mult, type=src.schema.field("lang").type),
            "source": pa.array(
                src["source"].to_pylist() * mult,
                type=src.schema.field("source").type,
            ),
            "n_chars": pa.array(
                [len(t) for t in out_texts],
                type=src.schema.field("n_chars").type,
            ),
        },
        schema=src.schema,
    )
    return out


def _gen_embeddings(src: pa.Table, mult: int) -> pa.Table:
    n = src.num_rows
    emb = np.array(src["embedding"].to_pylist(), dtype=np.float64)
    labels = src["label"].to_numpy()
    dim = emb.shape[1]

    # per-label unit centroids + calibrated pull strength so the mean
    # cosine-to-centroid of generated vectors matches the source corpus
    cents = {}
    target = 0.0
    for lab in np.unique(labels):
        v = emb[labels == lab]
        c = v.mean(axis=0)
        c = c / np.linalg.norm(c)
        cents[lab] = c
        target += (v @ c).mean() * (len(v) / n)
    # E[cos] ~= beta / sqrt(dim) for normalize(N(0,I) + beta*c)
    beta = target * np.sqrt(dim)

    blocks = [emb.astype(np.float32)]
    for r in range(1, mult):
        rng = _rng(mult, r, "embeddings")
        g = rng.standard_normal((n, dim))
        g += beta * np.stack([cents[lab] for lab in labels])
        g /= np.linalg.norm(g, axis=1, keepdims=True)
        blocks.append(g.astype(np.float32))
    allv = np.concatenate(blocks)

    vec_ids = np.concatenate(
        [src["vec_id"].to_numpy() + r * n for r in range(mult)]
    )
    emb_type = src.schema.field("embedding").type
    out = pa.table(
        {
            "vec_id": pa.array(vec_ids, type=src.schema.field("vec_id").type),
            "embedding": pa.array(list(allv), type=emb_type),
            "label": pa.array(
                np.tile(labels, mult), type=src.schema.field("label").type
            ),
        },
        schema=src.schema,
    )
    return out


def _skew_column(
    tab: pa.Table, col: str, frac: float, hot_value: int, mult: int
) -> pa.Table:
    """Reassign a seeded `frac` of rows' ``col`` to ``hot_value`` — the
    hot-key regime (one whale customer / one bot user) that breaks
    naive hash-partitioned joins and aggs at scale. FK-safe: the hot
    value is an existing key."""
    rng = np.random.default_rng(
        np.random.SeedSequence([42, mult, 999, sum(map(ord, col))])
    )
    mask = rng.random(tab.num_rows) < frac
    idx = tab.schema.get_field_index(col)
    vals = tab[col].to_numpy(zero_copy_only=False).copy()
    vals[mask] = hot_value
    return tab.set_column(
        idx, tab.field(idx), pa.array(vals, type=tab.field(idx).type)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--src", default=SRC_DEFAULT)
    ap.add_argument(
        "--skew",
        type=float,
        default=0.0,
        help="fraction of orders.o_custkey / events.user_id rows "
        "reassigned to key 0 (hot-key robustness rehearsal)",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset to generate (plus the verbatim "
        "region/nation dims); default all. Lets a decade probe that "
        "touches one fact table (e.g. events at sf100) skip the "
        "corpus regeneration, which dominates generation time",
    )
    args = ap.parse_args()
    mult, out_dir = args.mult, args.out
    os.makedirs(out_dir, exist_ok=True)
    wanted = set(args.tables.split(",")) if args.tables else set(_TABLE_IDS)

    load = lambda t: pq.read_table(os.path.join(args.src, f"{t}.parquet"))

    # fixed dims: carried verbatim (same 5 regions / 25 nations at any sf)
    for t in ("region", "nation"):
        _write(out_dir, t, load(t))

    cust = load("customer")
    supp = load("supplier")
    part = load("part")
    orders = load("orders")
    ev = load("events")
    nc, ns, npart, no = (
        t.num_rows for t in (cust, supp, part, orders)
    )
    ne = ev.num_rows
    nu = int(pc.max(ev["user_id"]).as_py()) + 1

    if "customer" in wanted:
        _write(out_dir, "customer", _replicate_keyed(
            cust, mult, {"c_custkey": nc},
            names={"c_name": ("Customer#%09d", "c_custkey")}))
    if "supplier" in wanted:
        _write(out_dir, "supplier", _replicate_keyed(
            supp, mult, {"s_suppkey": ns},
            names={"s_name": ("Supplier#%09d", "s_suppkey")}))
    if "part" in wanted:
        _write(out_dir, "part",
               _replicate_keyed(part, mult, {"p_partkey": npart}))
    if "orders" in wanted:
        ord_rep = _replicate_keyed(
            orders, mult, {"o_orderkey": no, "o_custkey": nc})
        if args.skew > 0:
            ord_rep = _skew_column(ord_rep, "o_custkey", args.skew, 0, mult)
        _write(out_dir, "orders", ord_rep)
    if "lineitem" in wanted:
        _write(out_dir, "lineitem", _replicate_keyed(
            load("lineitem"), mult,
            {"l_orderkey": no, "l_partkey": npart, "l_suppkey": ns}))
    if "events" in wanted:
        ev_rep = _replicate_keyed(ev, mult, {"event_id": ne, "user_id": nu})
        if args.skew > 0:
            ev_rep = _skew_column(ev_rep, "user_id", args.skew, 0, mult)
        _write(out_dir, "events", ev_rep)
    if "documents" in wanted:
        _write(out_dir, "documents", _gen_documents(load("documents"), mult))
    if "embeddings" in wanted:
        _write(out_dir, "embeddings",
               _gen_embeddings(load("embeddings"), mult))
    print(f"done: sf{0.1 * mult:g} at {out_dir}")


if __name__ == "__main__":
    main()
