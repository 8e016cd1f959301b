#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Derives a key-consistent resample of the template tables in
`perfbench/template/` (one parquet file per table, the layout `Table(dir,
name)` reads). Every output table has the template's schema and row count;
the seed decides everything else:

- every entity key (customer, supplier, part, order, document, vector) and
  every user id is relabelled by a seeded permutation of its key set, and
  every foreign key follows its key, so each join still finds its rows;
- some foreign-key columns are shuffled across rows (an order's customer, a
  customer's nation, a line item's part-supplier pair), which keeps each
  key's fan-out and each column's value multiset but changes who joins whom;
- a fixed share of documents (NEAR_DUP_SHARE) is replaced by a one-token edit
  of another, seed-chosen document, so the near-duplicate density of the
  corpus is a generator constant.

Tables sorted by their key in the template are written sorted by the new key;
the others keep the template's row order, so file layout stays as in the
template. The same seed writes the same bytes; `digest` hashes them. A
cached directory is reused only while its manifest's `source` matches the
hash of this file and the template, so a changed generator regenerates.

    python3 perfbench/gen.py --seed 7 --out .bench_build/data/7
"""
import argparse
import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEMPLATE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "template")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NEAR_DUP_SHARE = 0.10


def read(name):
    return pq.read_table(os.path.join(TEMPLATE, f"{name}.parquet")).replace_schema_metadata(None)


def relabel(rng, keys):
    """A seeded permutation of the key set, as an old-key -> new-key map."""
    old = np.unique(keys)
    return dict(zip(old.tolist(), rng.permutation(old).tolist()))


def mapped(col, mapping):
    arr = col.to_numpy()
    return pa.array([mapping[v] for v in arr.tolist()], type=col.type)


def shuffled(rng, col):
    return col.take(pa.array(rng.permutation(len(col))))


def set_col(tb, name, values):
    return tb.set_column(tb.schema.get_field_index(name), name, values)


def sorted_by_key(template, out, key):
    keys = template.column(key).to_numpy()
    if np.all(keys[:-1] <= keys[1:]):
        return out.sort_by(key)
    return out


def numbered_names(tb, name_col, key_col, prefix):
    """`Customer#000000042`-style names follow their (relabelled) key, when
    the template builds them that way."""
    names = tb.column(name_col).to_pylist()
    keys = tb.column(key_col).to_pylist()
    pat = re.compile(re.escape(prefix) + r"#(\d+)$")
    width = None
    for n, k in zip(names, keys):
        m = pat.match(n or "")
        if not m or int(m.group(1)) != k:
            return None
        width = len(m.group(1))
    return width


def near_duplicates(rng, docs):
    n = docs.num_rows
    k = int(round(NEAR_DUP_SHARE * n))
    picks = rng.permutation(n)
    targets, sources = picks[:k], picks[k:2 * k]
    texts = docs.column("text").to_pylist()
    for t, s in zip(targets.tolist(), sources.tolist()):
        toks = (texts[s] or "").split(" ")
        if len(toks) > 1:
            del toks[int(rng.integers(len(toks)))]
        texts[t] = " ".join(toks)
    docs = set_col(docs, "text", pa.array(texts, type=docs.schema.field("text").type))
    n_chars = pa.array([len(x or "") for x in texts], type=docs.schema.field("n_chars").type)
    return set_col(docs, "n_chars", n_chars)


def generate(seed):
    rng = np.random.default_rng(seed)
    t = {name: read(name) for name in TABLES}
    out = {"region": t["region"], "nation": t["nation"]}

    cust = relabel(rng, t["customer"].column("c_custkey").to_numpy())
    supp = relabel(rng, t["supplier"].column("s_suppkey").to_numpy())
    part = relabel(rng, t["part"].column("p_partkey").to_numpy())
    order = relabel(rng, t["orders"].column("o_orderkey").to_numpy())
    doc = relabel(rng, t["documents"].column("doc_id").to_numpy())
    vec = relabel(rng, t["embeddings"].column("vec_id").to_numpy())
    user = relabel(rng, t["events"].column("user_id").to_numpy())

    c = t["customer"]
    width = numbered_names(c, "c_name", "c_custkey", "Customer")
    c = set_col(c, "c_custkey", mapped(c.column("c_custkey"), cust))
    c = set_col(c, "c_nationkey", shuffled(rng, c.column("c_nationkey")))
    if width:
        c = set_col(c, "c_name", pa.array(
            [f"Customer#{k:0{width}d}" for k in c.column("c_custkey").to_pylist()]))
    out["customer"] = sorted_by_key(t["customer"], c, "c_custkey")

    s = t["supplier"]
    width = numbered_names(s, "s_name", "s_suppkey", "Supplier")
    s = set_col(s, "s_suppkey", mapped(s.column("s_suppkey"), supp))
    if width:
        s = set_col(s, "s_name", pa.array(
            [f"Supplier#{k:0{width}d}" for k in s.column("s_suppkey").to_pylist()]))
    out["supplier"] = sorted_by_key(t["supplier"], s, "s_suppkey")

    p = set_col(t["part"], "p_partkey", mapped(t["part"].column("p_partkey"), part))
    out["part"] = sorted_by_key(t["part"], p, "p_partkey")

    o = t["orders"]
    o = set_col(o, "o_orderkey", mapped(o.column("o_orderkey"), order))
    o = set_col(o, "o_custkey", shuffled(rng, mapped(o.column("o_custkey"), cust)))
    out["orders"] = sorted_by_key(t["orders"], o, "o_orderkey")

    li = t["lineitem"]
    pairs = rng.permutation(li.num_rows)
    li = set_col(li, "l_orderkey", mapped(li.column("l_orderkey"), order))
    li = set_col(li, "l_partkey", mapped(li.column("l_partkey"), part).take(pa.array(pairs)))
    li = set_col(li, "l_suppkey", mapped(li.column("l_suppkey"), supp).take(pa.array(pairs)))
    out["lineitem"] = li

    ev = t["events"]
    out["events"] = set_col(ev, "user_id", mapped(ev.column("user_id"), user))

    d = set_col(t["documents"], "doc_id", mapped(t["documents"].column("doc_id"), doc))
    d = near_duplicates(rng, d)
    out["documents"] = sorted_by_key(t["documents"], d, "doc_id")

    e = set_col(t["embeddings"], "vec_id", mapped(t["embeddings"].column("vec_id"), vec))
    out["embeddings"] = sorted_by_key(t["embeddings"], e, "vec_id")

    for name in TABLES:
        assert out[name].schema.equals(t[name].schema), name
        assert out[name].num_rows == t[name].num_rows, name
    return out


def digest(directory):
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(directory, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


def source():
    """Hash of everything the output depends on besides the seed."""
    h = hashlib.sha256()
    for path in [os.path.abspath(__file__)] + [
            os.path.join(TEMPLATE, f"{name}.parquet") for name in TABLES]:
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode())
            h.update(f.read())
    return h.hexdigest()


def write(seed, directory):
    """Writes the tables for `seed` into `directory` (atomically: a finished
    directory has its manifest) and returns the manifest."""
    manifest_path = os.path.join(directory, "manifest.json")
    src = source()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("source") == src and manifest["digest"] == digest(directory):
            return dict(manifest, dir=directory)
    os.makedirs(directory, exist_ok=True)
    tables = generate(seed)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(directory, f"{name}.parquet"),
                       compression="snappy")
    manifest = {"seed": seed, "source": src, "digest": digest(directory),
                "rows": {n: tables[n].num_rows for n in TABLES},
                "near_dup_share": NEAR_DUP_SHARE}
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(manifest_path + ".tmp", manifest_path)
    return dict(manifest, dir=directory)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write(a.seed, a.out)))
