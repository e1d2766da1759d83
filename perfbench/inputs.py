"""Seeded benchmark inputs.

Every workload starts from the sf0.1 `documents` and `embeddings` tables
vendored under `perfbench/data` (the chains read no other table).

- `sf01`: those two tables with their rows in a seed-chosen order. Their
  content, and so every stage's expected output, is the same for every seed.
- `replica`: the sf01 tables expanded REPS-fold by `tools/make_stress.py`
  (verbatim copies with doc_id offsets), then PERTURBED of the REPS-1 copies
  of each document get one word replaced. Which copies, and which word,
  comes from `pattern = seed % PATTERNS`, so corpus size (REPS x 5,000 docs)
  and distinct-text count (1 + PERTURBED per document) do not depend on the
  seed and the density gates always take the same branch. The pattern space
  is finite because the dense dedup stages have no oracle fast enough to run
  per input: their expected digests are pinned per pattern (expected.json).

Generated inputs are cached per (workload, seed) and are not part of any
timed interval.
"""
import hashlib
import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
MAKE_STRESS = os.path.join(HERE, "..", "tools", "make_stress.py")

REPS = 5
PERTURBED = 1
PATTERNS = 4

# make_stress.py copies or replicates every star-schema table; none of them
# is read by the curation chain, so they are empty placeholders here.
UNUSED_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "events", "orders", "lineitem"]


def pattern_of(seed):
    return seed % PATTERNS


def expected_key(kind, seed):
    """The expected.json entry that holds the expected outputs for `seed`."""
    return kind if kind == "sf01" else f"{kind}/{pattern_of(seed)}"


def _permuted(table, seed):
    order = list(range(table.num_rows))
    random.Random(seed).shuffle(order)
    return table.take(pa.array(order))


def _write_base(out, seed):
    os.makedirs(out, exist_ok=True)
    for name in ("documents", "embeddings"):
        t = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        pq.write_table(_permuted(t, seed), os.path.join(out, f"{name}.parquet"))
    empty = pa.table({"placeholder": pa.array([], pa.int64())})
    for name in UNUSED_TABLES:
        pq.write_table(empty, os.path.join(out, f"{name}.parquet"))


def _perturb(docs, pattern):
    """Replace one word in PERTURBED of the REPS-1 copies of each document.

    Copy r of original doc d has doc_id d + r * 1_000_000 (make_stress.py's
    offset). The choice depends only on (pattern, d), never on row order."""
    cols = docs.to_pydict()
    vocab = sorted({w for t in cols["text"] for w in t.split()})
    originals = {i: t for i, t in zip(cols["doc_id"], cols["text"]) if i < 1_000_000}
    edits = {}
    for d, text in originals.items():
        rng = random.Random(f"{pattern}:{d}")
        words = text.split()
        copies = rng.sample(range(1, REPS), PERTURBED)
        positions = rng.sample(range(len(words)), PERTURBED)
        for r, pos in zip(copies, positions):
            w = list(words)
            w[pos] = rng.choice([v for v in vocab if v != words[pos]])
            edits[d + r * 1_000_000] = " ".join(w)
    texts = [edits.get(i, t) for i, t in zip(cols["doc_id"], cols["text"])]
    return (docs.set_column(docs.schema.get_field_index("text"), "text",
                            pa.array(texts, pa.string()))
                .set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                            pa.array([len(t) for t in texts], pa.int64())))


def generate(workload, seed, out):
    """Write workload `workload`'s input for `seed` into `out` (reused when
    already complete) and return its stats."""
    done = os.path.join(out, "_done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        if workload == "sf01":
            _write_base(out, seed)
        elif workload == "replica":
            base = out + ".base"
            shutil.rmtree(base, ignore_errors=True)
            _write_base(base, seed)
            subprocess.run([sys.executable, MAKE_STRESS, base, out, str(REPS)],
                           check=True, stdout=subprocess.DEVNULL)
            shutil.rmtree(base)
            path = os.path.join(out, "documents.parquet")
            pq.write_table(_perturb(pq.read_table(path), pattern_of(seed)), path)
        else:
            raise ValueError(f"unknown input kind {workload}")
        open(done, "w").close()
    return stats(out)


def stats(sf_dir):
    """Row count, distinct texts and an order-independent content digest of
    the documents table."""
    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"]).to_pydict()
    rows = sorted(f"{i}|{t}" for i, t in zip(texts["doc_id"], texts["text"]))
    return {
        "docs": len(rows),
        "distinct_texts": len(set(texts["text"])),
        "digest": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }
