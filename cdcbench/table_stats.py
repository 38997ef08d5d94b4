"""Shape statistics of the batch tables, to compare the generator with a
fixture directory:

    python3 cdcbench/table_stats.py <dir of <table>.parquet> [<dir> ...]
    python3 cdcbench/table_stats.py --seed 1     # the generator's tables

Prints one JSON object per source: row counts, key and duplicate rates,
value means and ranges, text lengths and vocabulary, language mix,
near-duplicate document pairs and embedding cluster structure.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


def stats(tables: dict) -> dict:
    """``tables``: name -> pandas DataFrame."""
    li, o, ev = tables["lineitem"], tables["orders"], tables["events"]
    doc, emb = tables["documents"], tables["embeddings"]
    s = {f"{t}.rows": len(df) for t, df in sorted(tables.items())}
    s["lineitem.distinct_orderkeys"] = int(li.l_orderkey.nunique())
    s["lineitem.duplicate_keys"] = int(
        li.duplicated(["l_orderkey", "l_linenumber"]).sum())
    s["lineitem.extendedprice_mean"] = round(float(li.l_extendedprice.mean()))
    s["lineitem.quantity_mean"] = round(float(li.l_quantity.mean()), 1)
    s["lineitem.shipdate"] = [str(li.l_shipdate.min())[:10],
                              str(li.l_shipdate.max())[:10]]
    s["orders.orderdate"] = [str(o.o_orderdate.min())[:10],
                             str(o.o_orderdate.max())[:10]]
    s["events.users"] = int(ev.user_id.nunique())
    s["events.value_mean"] = round(float(ev.value.mean()), 1)
    s["events.span_days"] = round(
        (ev.ts.max() - ev.ts.min()).total_seconds() / 86400, 1)
    toks = [t.split() for t in doc.text]
    lens = [len(t) for t in toks]
    s["documents.tokens_min_median_max"] = [
        min(lens), float(np.median(lens)), max(lens)]
    s["documents.vocabulary"] = len({w for t in toks for w in t})
    s["documents.distinct_texts"] = int(doc.text.nunique())
    s["documents.lang"] = dict(Counter(doc.lang).most_common())
    sets = [frozenset(t) for t in toks]
    s["documents.pairs_jaccard_ge_0.8"] = sum(
        len(a & b) >= 0.8 * len(a | b)
        for i, a in enumerate(sets) for b in sets[i + 1:])
    vecs = np.stack(emb.embedding.values)
    labels = emb.label.values
    cos = vecs @ vecs.T
    same = labels[:, None] == labels[None, :]
    off = ~np.eye(len(vecs), dtype=bool)
    s["embeddings.labels"] = int(len(set(labels)))
    s["embeddings.cos_same_label"] = round(float(cos[same & off].mean()), 4)
    s["embeddings.cos_other_label"] = round(float(cos[~same].mean()), 4)
    s["embeddings.nearest_cos_mean"] = round(
        float(np.where(off, cos, -2).max(axis=1).mean()), 4)
    return s


def main(argv) -> int:
    import pyarrow.parquet as pq

    if argv[:1] == ["--seed"]:
        sys.path[:0] = [os.path.dirname(HERE), HERE]
        import gen

        sources = {f"generated seed {argv[1]}": {
            t: tbl.to_pandas()
            for t, tbl in gen.batch_tables(int(argv[1])).items()}}
    else:
        sources = {d: {f[:-8]: pq.read_table(os.path.join(d, f)).to_pandas()
                       for f in os.listdir(d) if f.endswith(".parquet")}
                   for d in argv}
    for name, tables in sources.items():
        print(json.dumps({"source": name, **stats(tables)}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
