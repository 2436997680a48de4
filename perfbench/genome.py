"""Seeded genome inputs and their single-threaded numpy reference.

Reads and genes are generated over the 24 hg38 chromosomes, both
strands. The reference recomputes every call of the genome call mix with
plain sorted-array sweeps (searchsorted over one coordinate line where
each (chromosome, strand) key owns its own 2^32 window), sharing no code
with the library, and returns one fingerprint per call.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fingerprint as fp

CHROMS = [
    ("chr1", 248956422), ("chr2", 242193529), ("chr3", 198295559),
    ("chr4", 190214555), ("chr5", 181538259), ("chr6", 170805979),
    ("chr7", 159345973), ("chr8", 145138636), ("chr9", 138394717),
    ("chr10", 133797422), ("chr11", 135086622), ("chr12", 133275309),
    ("chr13", 114364328), ("chr14", 107043718), ("chr15", 101991189),
    ("chr16", 90338345), ("chr17", 83257441), ("chr18", 80373285),
    ("chr19", 58617616), ("chr20", 64444167), ("chr21", 46709983),
    ("chr22", 50818468), ("chrX", 156040895), ("chrY", 57227415),
]
STRANDS = ["+", "-"]
SHIFT = np.int64(1 << 32)

# Every call `reference` answers, in pass order.
CALLS = ["countOverlaps", "joinOverlaps", "overlap", "nearest", "subtract",
         "merge", "cluster", "toRle", "bedRoundTrip"]


def _intervals(rng, n, lens, weights, length):
    chrom = rng.choice(len(CHROMS), size=n, p=weights / weights.sum())
    strand = rng.integers(0, 2, size=n)
    ln = length(n)
    start = (rng.random(n) * np.maximum(lens[chrom] - ln, 1)).astype(np.int64)
    end = np.minimum(start + ln, lens[chrom])
    order = np.lexsort((end, start, strand, chrom))
    return chrom[order], strand[order], start[order], end[order]


def generate(seed, n_reads, n_genes, out_dir, shrink=1):
    """Write reads.parquet and genes.parquet for `seed` into out_dir.

    Reads are BED6 rows (name and mapping-quality score) of 150-300 bp,
    spread by chromosome length with chr1 at twice its share (a hot key);
    genes have log-normal lengths (median 20 kb, tail into Mb) and an id.
    Both are coordinate-sorted, as aligners emit them. `shrink` divides
    the chromosome lengths, for dense small inputs in tests."""
    rng = np.random.default_rng(seed)
    lens = np.array([c[1] for c in CHROMS], dtype=np.int64) // shrink
    hot = lens.astype(np.float64)
    hot[0] *= 2
    reads = _intervals(rng, n_reads, lens, hot,
                       lambda n: rng.integers(150, 301, size=n))
    genes = _intervals(
        rng, n_genes, lens, lens.astype(np.float64),
        lambda n: np.clip(rng.lognormal(np.log(20000), 1.2, size=n),
                          200, 3_000_000).astype(np.int64))
    os.makedirs(out_dir, exist_ok=True)

    def table(iv, extra):
        chrom, strand, start, end = iv
        cols = {
            "row_id": pa.array(np.arange(len(start), dtype=np.int64)),
            "Chromosome": pa.DictionaryArray.from_arrays(
                pa.array(chrom.astype(np.int32)), [c[0] for c in CHROMS]),
            "Strand": pa.DictionaryArray.from_arrays(
                pa.array(strand.astype(np.int32)), STRANDS),
            "Start": pa.array(start), "End": pa.array(end)}
        cols.update(extra)
        return pa.table(cols)

    read_extra = {"Name": pa.array([f"SRR7429518.{i:09d}" for i in range(n_reads)]),
                  "Score": pa.array(rng.integers(0, 61, size=n_reads))}
    gene_ids = pa.array([f"G{i:06d}" for i in range(n_genes)])
    # Plain, uncompressed pages in row groups of 128k rows: several scan
    # splits per file, and file bytes that grow linearly with rows.
    opts = dict(compression="none", use_dictionary=["Chromosome", "Strand"],
                row_group_size=131072)
    pq.write_table(table(reads, read_extra), os.path.join(out_dir, "reads.parquet"),
                   **opts)
    pq.write_table(table(genes, {"gene_id": gene_ids}),
                   os.path.join(out_dir, "genes.parquet"), **opts)


class _Table:
    def __init__(self, path):
        t = pq.read_table(path)
        self.n = t.num_rows
        self.row_id = t["row_id"].to_numpy()
        self.start = t["Start"].to_numpy().astype(np.int64)
        self.end = t["End"].to_numpy().astype(np.int64)
        self.key = (_codes(t["Chromosome"], [c[0] for c in CHROMS]) * 2
                    + _codes(t["Strand"], STRANDS))
        self.s = self.key * SHIFT + self.start   # position on the key line
        self.e = self.key * SHIFT + self.end
        # the payload columns, as cell hashes (the output keeps their names)
        self.payload = fp.long_cells("row_id", self.row_id)
        for c in t.column_names:
            if c in ("row_id", "Chromosome", "Strand", "Start", "End"):
                continue
            if pa.types.is_integer(t[c].type):
                self.payload = self.payload + fp.long_cells(c, t[c].to_numpy())
            else:
                self.payload = self.payload + fp.string_array_cells(
                    c, t[c].to_pylist())


def _codes(col, labels):
    arr = col.combine_chunks()
    if pa.types.is_dictionary(arr.type):
        d = arr.dictionary.to_pylist()
        remap = np.array([labels.index(x) for x in d], dtype=np.int64)
        return remap[arr.indices.to_numpy()]
    index = {x: i for i, x in enumerate(labels)}
    return np.array([index[x] for x in arr.to_pylist()], dtype=np.int64)


def _loc_cells(key, start, end):
    """Cell hashes of Chromosome, Strand, Start and End."""
    return (fp.string_cells("Chromosome", key // 2, [c[0] for c in CHROMS])
            + fp.string_cells("Strand", key % 2, STRANDS)
            + fp.long_cells("Start", start) + fp.long_cells("End", end))


def _merge(s, e):
    """Merge intervals sorted by start on the key line (touching stay
    apart). Returns island starts, ends, and each input's island index."""
    if len(s) == 0:
        return s, e, np.zeros(0, dtype=np.int64)
    run = np.maximum.accumulate(e)
    new = np.ones(len(s), dtype=bool)
    new[1:] = s[1:] >= run[:-1]
    island = np.cumsum(new) - 1
    first = np.flatnonzero(new)
    last = np.append(first[1:] - 1, len(s) - 1)
    return s[first], run[last], island


def _pairs(r, g, bin_bits=16):
    """All (read, gene) index pairs that overlap, via a binned candidate
    join on the key line; each pair is kept in its first shared bin."""
    gb0, gb1 = g.s >> bin_bits, (g.e - 1) >> bin_bits
    reps = (gb1 - gb0 + 1)
    g_idx = np.repeat(np.arange(g.n), reps)
    g_bin = gb0[g_idx] + (np.arange(len(g_idx)) -
                          np.repeat(np.cumsum(reps) - reps, reps))
    order = np.argsort(g_bin, kind="stable")
    g_idx, g_bin = g_idx[order], g_bin[order]
    rb0, rb1 = r.s >> bin_bits, (r.e - 1) >> bin_bits
    rreps = (rb1 - rb0 + 1)
    r_idx = np.repeat(np.arange(r.n), rreps)
    r_bin = rb0[r_idx] + (np.arange(len(r_idx)) -
                          np.repeat(np.cumsum(rreps) - rreps, rreps))
    lo = np.searchsorted(g_bin, r_bin, "left")
    hi = np.searchsorted(g_bin, r_bin, "right")
    cnt = hi - lo
    ci = np.repeat(np.arange(len(r_idx)), cnt)
    cg = g_idx[np.repeat(lo, cnt) + (np.arange(len(ci)) -
                                     np.repeat(np.cumsum(cnt) - cnt, cnt))]
    cr = r_idx[ci]
    cb = r_bin[ci]
    keep = ((g.s[cg] < r.e[cr]) & (g.e[cg] > r.s[cr]) &
            (cb == (np.maximum(r.s[cr], g.s[cg]) >> bin_bits)))
    return cr[keep], cg[keep]


def reference(data_dir):
    """Fingerprint (rows, hash) of every call in CALLS."""
    r = _Table(os.path.join(data_dir, "reads.parquet"))
    g = _Table(os.path.join(data_dir, "genes.parquet"))
    out = {}
    with np.errstate(over="ignore"):
        r_cells = r.payload + _loc_cells(r.key, r.start, r.end)

        # countOverlaps: genes starting before the read ends, minus genes
        # ending at or before the read starts
        n = (np.searchsorted(np.sort(g.s), r.e, "left") -
             np.searchsorted(np.sort(g.e), r.s, "right"))
        out["countOverlaps"] = fp.np_fingerprint(r_cells + fp.long_cells("n", n))
        out["overlap"] = fp.np_fingerprint(r_cells[n > 0])

        pr, pg = _pairs(r, g)
        assert len(pr) == int(n.sum()), "pair enumeration disagrees with counts"
        # right columns: the colliding ones suffixed, the keys dropped
        g_cells_b = (g.payload - fp.long_cells("row_id", g.row_id)
                     + fp.long_cells("row_id_b", g.row_id)
                     + fp.long_cells("Start_b", g.start)
                     + fp.long_cells("End_b", g.end))
        out["joinOverlaps"] = fp.np_fingerprint(r_cells[pr] + g_cells_b[pg])

        out["nearest"] = _nearest(r, g, r_cells, pr, pg)

        order = np.argsort(g.s, kind="stable")
        isl_s, isl_e, _ = _merge(g.s[order], g.e[order])
        out["subtract"] = _subtract(r, isl_s, isl_e)

        rs, re_, island = _merge(r.s, r.e)   # reads are sorted by (key, start)
        merged_cells = _loc_cells(rs // SHIFT, rs % SHIFT, re_ % SHIFT)
        out["merge"] = fp.np_fingerprint(merged_cells)
        dot = fp.string_cells("Name", np.zeros(len(rs), dtype=np.int64), ["."])
        dot += fp.string_cells("Score", np.zeros(len(rs), dtype=np.int64), ["."])
        out["bedRoundTrip"] = fp.np_fingerprint(merged_cells + dot)

        # cluster ids are 1-based per key, in (Start, End) order
        key_first = np.searchsorted(r.key, r.key, "left")
        cid = island - island[key_first] + 1
        out["cluster"] = fp.np_fingerprint(r_cells + fp.long_cells("Cluster", cid))

        out["toRle"] = _rle(r)
    return out


def _nearest(r, g, r_cells, pr, pg):
    """k=1 nearest gene per read in the read's key: overlaps have
    distance 0, others gap + 1; ties go to the smaller gene row_id.
    Reads whose key holds no gene are dropped."""
    big = np.iinfo(np.int64).max
    dist = np.full(r.n, big, dtype=np.int64)
    best = np.zeros(r.n, dtype=np.int64)
    best_id = np.full(r.n, big, dtype=np.int64)
    # overlapping: smallest gene row_id per read
    if len(pr):
        o = np.lexsort((g.row_id[pg], pr))
        first = np.ones(len(o), dtype=bool)
        first[1:] = pr[o][1:] != pr[o][:-1]
        rr, gg = pr[o][first], pg[o][first]
        dist[rr] = 0
        best[rr] = gg
        best_id[rr] = g.row_id[gg]
    rkey = r.key

    def consider(cand, d):
        nonlocal dist, best, best_id
        valid = cand >= 0
        cid = np.where(valid, g.row_id[np.maximum(cand, 0)], big)
        better = valid & ((d < dist) | ((d == dist) & (cid < best_id)))
        dist = np.where(better, d, dist)
        best = np.where(better, cand, best)
        best_id = np.where(better, cid, best_id)

    # upstream: largest End <= read Start, ties -> smallest row_id
    ue = np.lexsort((g.row_id, g.e))
    e_sorted = g.e[ue]
    p = np.searchsorted(e_sorted, r.s, "right") - 1
    ok = p >= 0
    pc = np.maximum(p, 0)
    q = np.searchsorted(e_sorted, e_sorted[pc], "left")
    cand = np.where(ok & ((e_sorted[pc] - 1) // SHIFT == rkey), ue[q], -1)
    consider(cand, np.where(cand >= 0, r.s - g.e[np.maximum(cand, 0)] + 1, big))
    # downstream: smallest Start >= read End, ties -> smallest row_id
    us = np.lexsort((g.row_id, g.s))
    s_sorted = g.s[us]
    p = np.searchsorted(s_sorted, r.e, "left")
    ok = p < g.n
    pc = np.minimum(p, g.n - 1)
    cand = np.where(ok & (s_sorted[pc] // SHIFT == rkey), us[pc], -1)
    consider(cand, np.where(cand >= 0, g.s[np.maximum(cand, 0)] - r.e + 1, big))

    keep = dist != big
    b = best[keep]
    cells = (r_cells[keep] + fp.long_cells("row_id_b", g.row_id[b])
             + fp.long_cells("Start_b", g.start[b])
             + fp.long_cells("End_b", g.end[b])
             + fp.long_cells("Distance", dist[keep]))
    return fp.np_fingerprint(cells)


def _subtract(r, isl_s, isl_e):
    """Pieces of each read not covered by the merged genes."""
    lo = np.searchsorted(isl_e, r.s, "right")   # first island ending after
    hi = np.searchsorted(isl_s, r.e, "left")    # islands starting before end
    touched = hi > lo
    pieces_s, pieces_e, owner = [], [], []
    idx = np.flatnonzero(touched)
    # the piece before the first touched island
    s0 = r.s[idx]
    e0 = np.minimum(r.e[idx], isl_s[lo[idx]])
    pieces_s.append(s0); pieces_e.append(e0); owner.append(idx)
    # gaps between consecutive touched islands, then the tail piece
    cnt = hi[idx] - lo[idx]
    rep = np.repeat(idx, cnt)
    k = np.repeat(lo[idx], cnt) + (np.arange(cnt.sum()) -
                                   np.repeat(np.cumsum(cnt) - cnt, cnt))
    nxt = np.where(k + 1 < hi[rep], isl_s[np.minimum(k + 1, len(isl_s) - 1)],
                   r.e[rep])
    pieces_s.append(np.maximum(r.s[rep], isl_e[k]))
    pieces_e.append(np.minimum(r.e[rep], nxt))
    owner.append(rep)
    ps, pe, po = (np.concatenate(pieces_s), np.concatenate(pieces_e),
                  np.concatenate(owner))
    ok = ps < pe
    ps, pe, po = ps[ok], pe[ok], po[ok]
    untouched = np.flatnonzero(~touched)
    po = np.concatenate([po, untouched])
    ps = np.concatenate([ps, r.s[untouched]])
    pe = np.concatenate([pe, r.e[untouched]])
    key = r.key[po]
    cells = r.payload[po] + _loc_cells(key, ps - key * SHIFT, pe - key * SHIFT)
    return fp.np_fingerprint(cells)


def _rle(r):
    """Coverage runs between consecutive event positions of each key
    (interior zero runs included), score cast to long."""
    pos = np.concatenate([r.s, r.e])
    delta = np.concatenate([np.ones(r.n, np.int64), -np.ones(r.n, np.int64)])
    upos, inv = np.unique(pos, return_inverse=True)
    d = np.bincount(inv, weights=delta).astype(np.int64)
    depth = np.cumsum(d)       # every key's events sum to 0
    key = upos // SHIFT
    same = key[:-1] == key[1:]
    s, e, sc, k = upos[:-1][same], upos[1:][same], depth[:-1][same], key[:-1][same]
    cells = _loc_cells(k, s - k * SHIFT, e - k * SHIFT) + fp.long_cells("Score", sc)
    return fp.np_fingerprint(cells)
