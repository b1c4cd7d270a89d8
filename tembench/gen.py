"""Seeded input generators for the benchmark.

Both families follow the documented input profiles in FIXTURES.md, never
what the code under test does:

* ``sensor_csv`` -- the reference's sensor CSV (FIXTURES.md section A):
  the 26-column header with the unnamed pandas index column first,
  numeric text in the string-typed ``TbottomTestTankHpCir``, unique gapped
  ids from 3208, ~2 s cadence (1-4 s) from 2021-01-27 09:15:28.
* ``tables`` -- the ``documents`` table of FIXTURES.md section B at scale
  0.01, the only table the suite's entries and their oracles read.

The amount of work is the same for every seed: row counts, key
cardinalities and the distributions that set a query's work (tokens per
document, the near-duplicate structure and so the dedup graph's degrees)
are fixed; the seed only picks the values. The same seed always gives
byte-identical files.
"""
import datetime as dt

import numpy as np

SENSOR_HEADER = (
    ["", "id", "dateTime", "Tamb", "TtopTestTankHPCir", "TbottomTestTankHpCir",
     "TtopSourceTank", "TloadTankMix", "TTopTestTankLoadCir", "TloadMix",
     "TbottomSourceTank", "TbottomTestTankLoadCir"]
    + [f"T{i}" for i in range(10)]
    + ["flowHP", "flowLoad", "Load_kW", "Heat_Capacity_kW"])
SENSOR_START = dt.datetime(2021, 1, 27, 9, 15, 28)
SENSOR_FIRST_ID = 3208
T0_COL = SENSOR_HEADER.index("T0")


def tem_avg(t_texts):
    """The derived ``Tem(Avg)`` of one row from the generator's own text
    values: each of T0..T9 as a 32-bit float, summed left to right in float
    arithmetic, widened to double and divided by 10."""
    s = np.float32(t_texts[0])
    for t in t_texts[1:]:
        s = np.float32(s + np.float32(t))
    return float(s) / 10.0


def _fixed4(values):
    return [f"{v:.4f}" for v in values]


def sensor_rows(seed, n):
    """``n`` sensor rows as lists of CSV field strings (no header)."""
    rng = np.random.default_rng(seed)
    id_steps = rng.choice([1, 1, 1, 2], size=n)
    id_steps[0] = 0
    ids = SENSOR_FIRST_ID + np.cumsum(id_steps)
    sec_steps = rng.choice([1, 2, 2, 2, 2, 3, 4], size=n)
    sec_steps[0] = 0
    secs = np.cumsum(sec_steps)
    base = rng.uniform(16.0, 25.0, size=n)
    tank = base[:, None] + rng.uniform(-3.0, 3.0, size=(n, 9))
    strat = base[:, None] + rng.uniform(-1.5, 1.5, size=(n, 10))
    flows = np.column_stack([rng.uniform(850.0, 1000.0, n), rng.uniform(0.0, 1.0, n),
                             rng.uniform(-0.01, 0.01, n), rng.uniform(-0.5, 0.5, n)])
    rows = []
    for i in range(n):
        stamp = (SENSOR_START + dt.timedelta(seconds=int(secs[i]))).strftime("%Y-%m-%d %H:%M:%S")
        rows.append([str(i), str(int(ids[i])), stamp] + _fixed4(tank[i]) + _fixed4(strat[i])
                    + [repr(float(v)) for v in flows[i]])
    return rows


def sensor_csv(path, seed, n):
    """Write the sensor CSV and return ``{id: expected Tem(Avg)}``."""
    rows = sensor_rows(seed, n)
    with open(path, "w", newline="") as f:
        f.write(",".join(SENSOR_HEADER) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    return {int(r[1]): tem_avg(r[T0_COL:T0_COL + 10]) for r in rows}


# -- suite tables -------------------------------------------------------------

SCALE = 0.01
# Documents per language, as in the sf0.01 testdata profile.
LANG_COUNTS = {"en": 218, "zh": 75, "es": 73, "de": 70, "fr": 64}
N_DOCS = 500
# A fixed vocabulary, large enough that unrelated documents share no word
# 3-gram, so near-duplicate pairs are exactly the planted ones.
_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "ba", "de", "fo", "gi",
        "ha", "ju"]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:2]]
# Near-duplicate clusters: a root at every 8th doc id and 1, 1, 2 or 3
# copies right after it. A root shorter than LONG_ROOT tokens is copied
# exactly; a longer one with its last token replaced (shingle Jaccard
# >= 0.97, so MinHash LSH pairs it with near certainty).
CLUSTER_SIZES = [1, 1, 2, 3]
LONG_ROOT = 90


def doc_length(i):
    """Tokens in document ``i``: every length from 10 to 99, fixed per id."""
    return 10 + (i * 37) % 90


def doc_roots():
    """``{copy id: root id}`` of the planted near-duplicate structure."""
    roots = {}
    for c, root in enumerate(range(0, N_DOCS - 3, 8)):
        for k in range(1, CLUSTER_SIZES[c % len(CLUSTER_SIZES)] + 1):
            roots[root + k] = root
    return roots


def documents(rng):
    roots = doc_roots()
    texts = []
    for i in range(N_DOCS):
        if i in roots:
            words = texts[roots[i]].split(" ")
            if len(words) >= LONG_ROOT:
                shift = 1 + int(rng.integers(len(VOCAB) - 1))
                words[-1] = VOCAB[(VOCAB.index(words[-1]) + shift) % len(VOCAB)]
        else:
            words = [str(w) for w in rng.choice(VOCAB, doc_length(i))]
        texts.append(" ".join(words))
    langs = rng.permutation([lang for lang, k in LANG_COUNTS.items() for _ in range(k)])
    return {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts, "lang": list(langs),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}


def row_counts():
    """Rows of the FIXTURES.md section B tables the suite counts, at ``SCALE``."""
    sf = SCALE
    return {"orders": int(1_500_000 * sf), "lineitem": int(6_000_000 * sf),
            "events": int(1_000_000 * sf), "documents": N_DOCS}


def fact_rows():
    """Fact rows (lineitem + orders + events) at ``SCALE``: the rows one
    suite pass is credited with in ``rows_per_s``."""
    n = row_counts()
    return n["lineitem"] + n["orders"] + n["events"]


def tables(out_dir, seed):
    """Write the tables the suite's entries and their oracle SQL read --
    only ``documents`` -- as ``<out_dir>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = documents(np.random.default_rng(seed))
    pq.write_table(pa.table({c: pa.array(v) for c, v in cols.items()}),
                   f"{out_dir}/documents.parquet")
