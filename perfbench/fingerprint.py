"""Order-independent result fingerprints, shared by the references.

A result's fingerprint is (row count, 64-bit sum of row hashes). A row
hash mixes one cell hash per column, and a cell hash binds the value to
its column name, so the fingerprint depends on neither row order nor
column order. `Fingerprint.scala` computes the same function over the
rows Spark returns; the two must stay bit-identical.

  value hash: integer/bool -> mix64(v); string -> fnv1a64(utf-8 bytes);
              float -> mix64(IEEE-754 bits of the double, -0.0 and NaN
              made canonical); NULL -> NULL_HASH;
              list -> fold h = mix64(h * 31 + element hash) from LIST_SEED
  cell hash:  mix64(value hash ^ fnv1a64(column name))
  row hash:   mix64(sum of cell hashes mod 2^64)
"""
import struct

import numpy as np

M64 = (1 << 64) - 1
FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
NULL_HASH = 0x9E3779B97F4A7C15
LIST_SEED = 0x1B873593


def mix64(x):
    x &= M64
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & M64
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & M64
    return x ^ (x >> 31)


def fnv1a64(data):
    h = FNV_OFFSET
    for b in data:
        h = ((h ^ b) * FNV_PRIME) & M64
    return h


def value_hash(v):
    if v is None:
        return NULL_HASH
    if isinstance(v, bool):
        return mix64(int(v))
    if isinstance(v, int):
        return mix64(v)
    if isinstance(v, float):
        if v != v:
            v = float("nan")
        elif v == 0.0:
            v = 0.0
        return mix64(struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, str):
        return fnv1a64(v.encode("utf-8"))
    if isinstance(v, (list, tuple)):
        h = LIST_SEED
        for e in v:
            h = mix64(h * 31 + value_hash(e))
        return h
    raise TypeError(f"no fingerprint for {type(v).__name__}")


def row_hash(names, values):
    s = 0
    for n, v in zip(names, values):
        s += mix64(value_hash(v) ^ fnv1a64(n.encode("utf-8")))
    return mix64(s)


def of_rows(names, rows):
    """Fingerprint of Python rows (tuples aligned with `names`)."""
    total = 0
    n = 0
    for r in rows:
        total += row_hash(names, r)
        n += 1
    return n, total & M64


# ---- vectorized forms for the genome references (numpy uint64 wraps) ----

def np_mix64(x):
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def long_cells(name, values):
    """Cell hashes of an int64 column."""
    salt = np.uint64(fnv1a64(name.encode("utf-8")))
    return np_mix64(np_mix64(values.astype(np.int64).view(np.uint64)) ^ salt)


def string_cells(name, codes, labels):
    """Cell hashes of a string column given as codes into `labels`."""
    salt = fnv1a64(name.encode("utf-8"))
    table = np.array([mix64(value_hash(s) ^ salt) for s in labels],
                     dtype=np.uint64)
    return table[codes]


def string_array_cells(name, values):
    """Cell hashes of a string column, FNV-1a run over all rows at once,
    one byte position per step."""
    raw = np.array([v.encode("utf-8") for v in values], dtype=bytes)
    width = raw.dtype.itemsize
    b = raw.view(np.uint8).reshape(len(values), width)
    lens = np.array([len(v) for v in raw], dtype=np.int64)
    h = np.full(len(values), FNV_OFFSET, dtype=np.uint64)
    for j in range(width):
        step = (h ^ b[:, j].astype(np.uint64)) * np.uint64(FNV_PRIME)
        h = np.where(j < lens, step, h)
    salt = np.uint64(fnv1a64(name.encode("utf-8")))
    return np_mix64(h ^ salt)


def np_fingerprint(cell_sums):
    """Fingerprint from per-row sums of cell hashes (uint64 array)."""
    with np.errstate(over="ignore"):
        return int(len(cell_sums)), int(np_mix64(cell_sums).sum(dtype=np.uint64))


def fmt(fp):
    return f"{fp[0]}:{fp[1]:016x}"
