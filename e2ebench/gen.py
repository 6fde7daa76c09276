"""Seeded SKOS bindings corpus for the harvest workloads.

`corpus(seed, concepts, out_dir)` writes, once per (seed, concepts):

  base.parquet       the collection as one SPARQL result set
                     (concept, prefLabel, altLabel, definition)
  increment.parquet  the next day's delta: ~1% new concepts, new values on
                     ~1% of existing concepts, and re-sent base rows

The row mix covers the input cases of FIXTURES.md section 1.1: concepts
with all three properties bound, with none bound, altLabel fan-out (one
row per altLabel), exact duplicate rows, empty concepts, non-http
concepts, and rows re-sent at the end of the result set.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "sea surface water temperature salinity pressure depth oxygen nitrate "
    "phosphate silicate chlorophyll fluorescence turbidity current velocity "
    "wave height period direction wind speed air humidity radiation "
    "sediment grain size carbon nitrogen particulate dissolved organic "
    "inorganic concentration abundance biomass plankton zooplankton "
    "phytoplankton fish larvae benthic fauna taxonomic count sample bottle "
    "sensor profile cast mooring buoy vessel station transect quality flag "
    "calibration standard deviation mean minimum maximum hourly daily"
).split()


def _phrases(rng, n, lo, hi):
    """n phrases of lo..hi words drawn from WORDS."""
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(WORDS), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    return out


def _uris(codes):
    return [f"http://vocab.nerc.ac.uk/collection/P01/current/{c}/" for c in codes]


def _concept_rows(rng, uris):
    """Binding rows for concepts: 70% fully bound with 1-4 altLabels
    (fan-out), 10% with no property bound, 20% partially bound."""
    n = len(uris)
    kind = rng.choice(3, size=n, p=[0.7, 0.1, 0.2])
    n_alt = np.where(kind == 0, rng.integers(1, 5, size=n), 1)
    pref = _phrases(rng, n, 2, 5)
    defs = _phrases(rng, n, 8, 20)
    alts = _phrases(rng, int(n_alt.sum()), 1, 3)
    half = rng.random(n) < 0.5
    rows, a = [], 0
    for i in range(n):
        k = kind[i]
        if k == 0:
            for j in range(n_alt[i]):
                rows.append((uris[i], pref[i], alts[a + j], defs[i]))
        elif k == 1:
            rows.append((uris[i], None, None, None))
        else:
            rows.append((uris[i], pref[i], None, defs[i] if half[i] else None))
        a += n_alt[i]
    return rows


def _invalid_rows(rng, n):
    """Rows the validity gate must drop: empty concepts and non-http URIs."""
    labels = _phrases(rng, n, 1, 3)
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.3:
            concept = ""
        elif r < 0.65:
            concept = f"urn:x-nerc:P01:N{i:06d}"
        else:
            concept = f"ftp://vocab.nerc.ac.uk/collection/P01/current/F{i:06d}/"
        rows.append((concept, labels[i], None, None))
    return rows


def _with_duplicates(rng, rows, dup_frac, resend_frac):
    """Exact duplicates placed next to their original, then a contiguous
    block of rows re-sent at the end (a page served twice)."""
    out = []
    dup = rng.random(len(rows)) < dup_frac
    for r, d in zip(rows, dup):
        out.append(r)
        if d:
            out.append(r)
    k = max(1, int(len(rows) * resend_frac))
    start = int(rng.integers(0, max(1, len(rows) - k)))
    out.extend(rows[start:start + k])
    return out


def _write(rows, path):
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    schema = pa.schema([("concept", pa.string(), False), ("prefLabel", pa.string()),
                        ("altLabel", pa.string()), ("definition", pa.string())])
    table = pa.table([pa.array(c, pa.string()) for c in cols], schema=schema)
    # a dot-prefixed temporary name: readers of the directory skip it
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def corpus(seed, concepts, out_dir):
    """Write base.parquet and increment.parquet under out_dir (skipped if
    both exist) and return their paths."""
    base_p = os.path.join(out_dir, "base.parquet")
    inc_p = os.path.join(out_dir, "increment.parquet")
    if os.path.exists(base_p) and os.path.exists(inc_p):
        return base_p, inc_p
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, concepts])
    codes = rng.choice(36 ** 6, size=int(concepts * 1.01) + 1, replace=False)
    names = [np.base_repr(int(c), 36).rjust(6, "0") for c in codes]
    uris = _uris(names[:concepts])
    fresh = _uris(names[concepts:])

    base = _concept_rows(rng, uris) + _invalid_rows(rng, max(1, concepts // 200))
    order = rng.permutation(len(base))
    base = _with_duplicates(rng, [base[i] for i in order], 0.02, 0.01)
    _write(base, base_p)

    # increment: new concepts, new values on existing ones, re-sent rows
    touched = rng.choice(concepts, size=max(1, concepts // 100), replace=False)
    new_vals = _phrases(rng, len(touched), 1, 3)
    inc = _concept_rows(rng, fresh)
    inc += [(uris[t], None, v, None) for t, v in zip(touched, new_vals)]
    resend = rng.choice(len(base), size=max(1, len(base) // 100), replace=False)
    inc += [base[i] for i in sorted(resend)]
    _write(inc, inc_p)
    return base_p, inc_p
