"""Seeded inputs for the graft benchmark.

The tables are graft's sf0.01 test data as provided (``data/sf0.01``: the
TPC-H-like star schema, ``events``, ``documents`` and ``embeddings``; seed 42,
read-only). The expected hashes in ``expected.tsv`` were recorded on them.
Drawn from ``--seed`` are:

* the file layout and row order of the ``corpus`` workload's ``documents``
  and ``embeddings`` tables (same rows, so the same expected hashes),
* the op order of every pass and the ``lineage_qa`` question /
  re-extraction stream.

The program under test only ever sees a fresh copy of these files.
"""
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORPUS_TABLES = ("documents", "embeddings")


def stage(out, seed=None, files=0):
    """Copy the tables to `out`. With `files`, the corpus tables are
    re-staged as that many parquet files each, rows in a seed-determined
    order."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.Generator(np.random.PCG64(seed)) if files else None
    for name in TABLES:
        src = os.path.join(DATA, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if not (files and name in CORPUS_TABLES):
            shutil.copyfile(src, dst)
            continue
        tbl = pq.read_table(src)
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        os.makedirs(dst)
        bounds = np.linspace(0, tbl.num_rows, files + 1).astype(int)
        for i in range(files):
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(dst, f"part-{i:05d}.parquet"))


def plan(workload, seed, ops, passes):
    """The op order of each pass, drawn from the seed.

    etl / corpus: each pass is a fresh permutation of `ops` (query names).
    lineage_qa: each pass asks every QA.Questions template (`ops` lists
    them) once, in template order, then re-extracts. Every pass has the same
    mix, and the question after each re-extraction is always the first
    template, so pass times and per-template latencies differ only by the
    columns asked about. A template is
    filled with a lineage column, drawn as a number that the harness takes
    modulo the repo's column count."""
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for _ in range(passes):
        if workload == "lineage_qa":
            block = [("ask", t, rng.randrange(1 << 30)) for t in range(len(ops))]
            out.append(block + [("extract",)])
        else:
            p = list(ops)
            rng.shuffle(p)
            out.append([("query", q) for q in p])
    return out


def full_plan(workload, ops):
    """One pass that visits every op once (conformance runs and recording
    expected hashes): every query, or every template with every column,
    then one extraction."""
    if workload == "lineage_qa":
        # 256 column draws cover every column of a repo with up to 256
        return [[("ask", t, c) for t in range(len(ops)) for c in range(256)] +
                [("extract",)]]
    return [[("query", q) for q in sorted(ops)]]
