#!/usr/bin/env python3
"""Shape of a curation corpus: the figures CorpusGen is fitted to.

Usage:
    python3 perfbench/corpus_shape.py <dir> [<dir> ...]

Each <dir> holds `documents.parquet` and `lineitem.parquet` (a file or a
directory of parquet files): one of the repository's test fixtures, or the
corpus a `curate` run generated (perfbench/work/curate/corpus).
"""
import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def shape(d):
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
    words = np.array([len(x["text"].split()) for x in docs])
    vocab = collections.Counter(w for x in docs for w in x["text"].split())
    j, _ = run.jaccard_matrix([x["text"] for x in docs])
    pairs = j[np.triu_indices(len(docs), 1)]
    near = pairs[pairs >= 0.7]
    langs = collections.Counter(x["lang"] for x in docs)
    li = pq.read_table(os.path.join(d, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_suppkey"]).to_pandas()
    per_order = li.groupby("l_orderkey").size()
    per_part = li.groupby("l_partkey").size()
    return {
        "docs": len(docs),
        "words_per_doc_min_p50_max": [int(words.min()), float(np.median(words)),
                                      int(words.max())],
        "vocabulary": len(vocab),
        "docs_with_dup_mark": round(sum("dup" in x["text"].split() for x in docs)
                                    / len(docs), 4),
        "background_jaccard_p50_p99": [round(float(q), 3)
                                       for q in np.quantile(pairs, [0.5, 0.99])],
        "pairs_jaccard_ge_0.7_per_doc": round(len(near) / len(docs), 4),
        "near_pair_jaccard_min": round(float(near.min()), 3) if len(near) else None,
        "lang_en_share": round(langs["en"] / len(docs), 3),
        "lines": len(li),
        "lines_per_order_mean": round(len(li) / per_order.size, 2),
        "lines_per_part_mean": round(len(li) / per_part.size, 1),
        "lines_per_supplier_mean": round(len(li) / li.l_suppkey.nunique(), 1),
    }


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(d)
        for k, v in shape(d).items():
            print(f"  {k}: {v}")
