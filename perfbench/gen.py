"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --seed 7 --out <dir> [--scale bench|tiny]

Writes, all derived from the seed alone:

  a.vcf.gz          cohort 1: reference-shaped single-gzip VCF, 146 genotype
                    columns (140 in the sample dictionary, 6 unknown)
  b.vcf.gz          cohort 2: shares most loci with A, adds new ones; its
                    sample set partly overlaps A's
  ab.vcf.gz         A's and B's records under one header (the union of both
                    sample sets, "./." where a file lacks a sample): the
                    one-batch load the A-then-B store is compared against
  genes_r1.parquet  gene release 1 (used by every load)
  genes_r2.parquet  gene release 2 (genes dropped, added and moved; the
                    genic-QC workload flips status against it)
  samples.json      the 146-entry sample dictionary (name -> sample id)
  events.parquet    the event log the layout table is bootstrapped from
  manifest.json     exact counts the benchmark checks the program against

Every FIXTURES.md section 1 case appears at volume: multi-allelic and
multi-ref records, "*" alleles, DP=0 in the first sample (the whole record
is dropped), DP=".", 0/0 and ./. genotypes, allele depth 0, chrM, scaffold
and unplaced contigs, exact duplicate records and same-locus records with a
different allele. A genotype blob is a function of (seed, site, sample), so
a site shared by A and B carries identical calls for a shared sample.
"""

import argparse
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALES = {
    # records in A, share of B's sites taken from A, events rows
    "bench": dict(sites_a=2000, sites_b=2000, shared_b=0.7, events=100_000,
                  genes_per_chrom=40),
    "tiny": dict(sites_a=150, sites_b=150, shared_b=0.7, events=4_000,
                 genes_per_chrom=6),
    # the reference's shape: 20k records per cohort (too slow for a timed
    # run; used to compare the layer mix against the bench scale)
    "reference": dict(sites_a=20000, sites_b=5000, shared_b=0.7,
                      events=100_000, genes_per_chrom=40),
}
CHROMS = [str(i) for i in range(1, 21)] + ["X"]
CHROM_LEN = 2_000_000
DROP_CONTIGS = ["chrUn_scaffold_{}", "chr{}_unloc_7", "chrUn_unplaced_{}",
                "contig_{}"]
MAP_KEY = 372
# the large files each workload reads
NEEDS = {"load_fresh": {"a"}, "load_cohort2": {"a", "b", "ab"},
         "genic_qc": {"a"}, "table_dml": {"events"}}
N_DICT = 146
FORMAT = "GT:AD:DP:GQ"
BASES = np.array(list("ACGT"))


def sample_names():
    dict_names = [f"HRDP_{i:03d}" for i in range(N_DICT)]
    a = dict_names[:140] + [f"UNK_A{i}" for i in range(6)]
    # B keeps A's first column (the DP=0 gate reads the first sample, so a
    # site shared by A and B must see the same first blob in A, B and AB)
    b = [dict_names[0]] + dict_names[40:] + [f"UNK_B{i}" for i in range(39)]
    ab = dict_names + [f"UNK_A{i}" for i in range(6)] + \
        [f"UNK_B{i}" for i in range(39)]
    return dict_names, a, b, ab


def blob_palette(rng, n_alts, size=512):
    """Genotype blobs for a site with n_alts ALT alleles. Classes: 0/0
    (skipped), ./. (skipped), het, hom-alt, het on a later allele, and
    allele depth 0 (no detail row). DP is '.' in a share of the called
    blobs; DP is never 0 here (DP=0 in the first sample drops a record and
    is placed only on purpose)."""
    # the class shares are exact (not drawn), so every seed's cohorts carry
    # the same amount of work; only depths and which cell gets which blob vary
    shares = [("0/0", 0.42), ("./.", 0.10), ("het", 0.26), ("hom", 0.16),
              ("ad0", 0.06)]
    classes = rng.permutation(np.repeat([c for c, _ in shares],
                                        exact_counts([p for _, p in shares], size)))
    out = []
    for cls in classes:
        ref_d = int(rng.integers(3, 40))
        alt = [int(rng.integers(1, 40)) for _ in range(n_alts)]
        if cls == "0/0":
            gt, ad = "0/0", [ref_d] + [0] * n_alts
        elif cls == "./.":
            out.append("./.:.:.:.")
            continue
        elif cls == "het":
            j = 1 if n_alts == 1 or rng.random() < 0.6 else 2
            gt = f"0/{j}"
            ad = [ref_d] + [alt[k] if k == j - 1 else 0 for k in range(n_alts)]
        elif cls == "hom":
            j = 1 if n_alts == 1 or rng.random() < 0.7 else 2
            gt = f"{j}/{j}"
            ad = [int(rng.integers(0, 3))] + \
                [alt[k] if k == j - 1 else 0 for k in range(n_alts)]
        else:
            # called het whose allele depth is 0
            gt, ad = "0/1", [ref_d] + [0] * n_alts
        dp = sum(ad)
        dp_s = "." if rng.random() < 0.05 else str(max(dp, 1))
        out.append(f"{gt}:{','.join(map(str, ad))}:{dp_s}:{int(rng.integers(5, 99))}")
    return out


def exact_counts(shares, n):
    """Split n by the shares, rounding so the counts sum to n exactly."""
    counts = [int(p * n) for p in shares]
    for i in np.argsort([c - p * n for c, p in zip(counts, shares)])[:n - sum(counts)]:
        counts[i] += 1
    return counts


def make_sites(rng, slots):
    """One record template (vcf_chrom, pos, id, ref, alts, kind) per grid
    slot. Each kind has an exact share, so record and allele counts do not
    vary by seed."""
    n = len(slots)
    kinds = ["snv", "mnv", "ins", "del", "delins", "multi", "multi_star",
             "star", "multiref", "scaffold", "chrM", "dp0", "sibling", "dup"]
    shares = [0.47, 0.04, 0.07, 0.07, 0.03, 0.08, 0.02, 0.02, 0.01, 0.03,
              0.02, 0.02, 0.06, 0.06]
    kinds = rng.permutation(np.repeat(kinds, exact_counts(shares, n)))
    sites = []
    for i, kind in enumerate(kinds):
        chrom = "chr" + CHROMS[int(rng.integers(len(CHROMS)))]
        if kind == "scaffold":
            chrom = DROP_CONTIGS[i % len(DROP_CONTIGS)].format(
                int(rng.integers(1, 30)))
        elif kind == "chrM":
            chrom = "chrM"
        pos = int(slots[i]) * 64 + 1 + (i % 7)
        b = BASES[rng.integers(4, size=8)]
        r1, a1 = b[0], b[1] if b[1] != b[0] else ("A" if b[0] != "A" else "C")
        if kind == "mnv":
            ref, alts = "".join(b[:3]), ["".join(b[3:6])]
        elif kind == "ins":
            ref, alts = r1, [r1 + "".join(b[2:2 + int(rng.integers(1, 5))])]
        elif kind == "del":
            ref, alts = r1 + "".join(b[2:2 + int(rng.integers(1, 5))]), [r1]
        elif kind == "delins":
            ref, alts = "".join(b[:3]), ["".join(b[4:6])]
        elif kind == "multi":
            alts = [a1, r1 + "".join(b[3:5])]
            ref = r1
        elif kind == "multi_star":
            ref, alts = r1, [a1, "*"]
        elif kind == "star":
            ref, alts = "".join(b[:2]), ["*"]
        elif kind == "multiref":
            ref, alts = f"{r1},{r1}{b[2]}", [a1]
        else:
            ref, alts = r1, [a1]
        rs = "." if rng.random() < 0.7 else f"rs{int(rng.integers(1, 10**8))}"
        sites.append([chrom, pos, rs, ref, alts, kind])
        if kind == "sibling":
            # same locus, different allele: a second record at this POS
            other = next(x for x in "ACGT" if x not in (r1, a1))
            sites.append([chrom, pos, ".", r1, [other], "sibling2"])
    return sites


def chrom_key(c):
    s = c.replace("chr", "")
    return (0, int(s), "") if s.isdigit() else (1, 0, s)


def norm_chrom(c):
    """Expected normalized chromosome, or None when the contig is dropped."""
    if any(t in c for t in ("unplaced", "unloc", "contig", "scaffold")):
        return None
    s = c.replace("chr", "")
    return "MT" if s.upper() == "M" else s


def write_vcf(path, sites, idx, header, col_of, blobs, dp0_blob):
    """Write the sites at positions idx under `header`; returns counts."""
    order = sorted(idx, key=lambda i: (chrom_key(sites[i][0]), sites[i][1], i))
    counts = {"records": 0, "contig_dropped": 0, "dp0_dropped": 0,
              "alleles_by_chrom": {}}
    cols = np.array([col_of.get(n, -1) for n in header])
    # mtime=0 keeps the bytes, not only the text, a function of the seed
    with io.TextIOWrapper(gzip.GzipFile(path, "wb", compresslevel=3,
                                        mtime=0)) as f:
        f.write("##fileformat=VCFv4.2\n")
        f.write("##source=perfbench-gen\n")
        f.write("##FORMAT=<ID=GT,Number=1,Type=String>\n")
        f.write("##FORMAT=<ID=AD,Number=R,Type=Integer>\n")
        f.write("##FORMAT=<ID=DP,Number=1,Type=Integer>\n")
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
                + "\t".join(header) + "\n")
        for i in order:
            chrom, pos, rs, ref, alts, kind = sites[i]
            cells = blobs(i, cols)
            if kind == "dp0":
                cells[0] = dp0_blob
            line = (f"{chrom}\t{pos}\t{rs}\t{ref}\t{','.join(alts)}\t50\tPASS\t"
                    f"AC=1\t{FORMAT}\t" + "\t".join(cells) + "\n")
            n_copies = 2 if kind == "dup" else 1
            for _ in range(n_copies):
                f.write(line)
                counts["records"] += 1
                nc = norm_chrom(chrom)
                if nc is None:
                    counts["contig_dropped"] += 1
                elif kind == "dp0":
                    counts["dp0_dropped"] += 1
                else:
                    byc = counts["alleles_by_chrom"]
                    byc[nc] = byc.get(nc, 0) + len(alts)
    return counts


def genes(rng, per_chrom):
    rows = []
    gid = 1_000_000
    for c in CHROMS + ["MT"]:
        n = per_chrom if c != "MT" else 2
        for _ in range(n):
            start = int(rng.integers(1, CHROM_LEN))
            rows.append([gid, c, start, start + int(rng.integers(2_000, 40_000))])
            gid += 1
    return rows


def revise(rng, r1):
    """Release 2: drop 12% of genes, move 12%, add 12% new ones."""
    out, gid = [], max(g[0] for g in r1) + 1
    for g in r1:
        u = rng.random()
        if u < 0.12:
            continue
        if u < 0.24:
            shift = int(rng.integers(-20_000, 20_000))
            g = [g[0], g[1], max(1, g[2] + shift), max(1, g[3] + shift)]
        out.append(g)
    for g in r1:
        if rng.random() < 0.12:
            start = int(rng.integers(1, CHROM_LEN))
            out.append([gid, g[1], start, start + int(rng.integers(2_000, 40_000))])
            gid += 1
    return out


def write_genes(path, rows):
    t = pa.table({
        "gene_rgd_id": pa.array([r[0] for r in rows], pa.int32()),
        "chromosome": pa.array([r[1] for r in rows], pa.string()),
        "start_pos": pa.array([r[2] for r in rows], pa.int64()),
        "stop_pos": pa.array([r[3] for r in rows], pa.int64()),
        "map_key": pa.array([MAP_KEY] * len(rows), pa.int32()),
        "object_status": pa.array(["ACTIVE"] * len(rows), pa.string()),
    })
    pq.write_table(t, path)


def write_events(path, rng, n):
    """Event log shaped like the repository's test `events` table
    (event_id, ts, user_id, event_type, value, props): ids dense, users
    uniform over 1500 ids, 30 days of microsecond timestamps."""
    ts0 = 1_704_067_200_000_000  # 2024-01-01 UTC in microseconds
    users = rng.integers(0, 1500, n)
    t = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(ts0 + rng.integers(0, 30 * 86_400_000_000, n)),
                       pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(t, path, row_group_size=50_000)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="bench", choices=sorted(SCALES))
    ap.add_argument("--workload", choices=sorted(NEEDS),
                    help="write only the files this workload reads "
                         "(the rest are still drawn, so contents match)")
    args = ap.parse_args()
    needs = NEEDS.get(args.workload, {"a", "b", "ab", "events"})
    sc = SCALES[args.scale]
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.default_rng(args.seed)

    dict_names, a_hdr, b_hdr, ab_hdr = sample_names()
    sample_ids = rng.permutation(N_DICT) + 4000
    sample_dict = {n: int(sid) for n, sid in zip(dict_names, sample_ids)}

    n_new_b = int(sc["sites_b"] * (1 - sc["shared_b"]))
    # one grid slot per template: two templates never share a locus (or,
    # through normalization, a variant key) unless they are siblings
    slots = rng.permutation(CHROM_LEN // 64 - 1)[:sc["sites_a"] + n_new_b] + 1
    sites = make_sites(rng, slots[:sc["sites_a"]])
    first_b = len(sites)
    sites += make_sites(rng, slots[sc["sites_a"]:])
    a_idx = list(range(first_b))
    shared = sorted(rng.choice(len(a_idx), int(sc["sites_b"] * sc["shared_b"]),
                               replace=False).tolist())
    # keep sibling pairs whole on both sides
    shared = sorted(set(shared) | {i + 1 for i in shared if i + 1 < first_b
                                   and sites[i + 1][5] == "sibling2"}
                    | {i - 1 for i in shared if sites[i][5] == "sibling2"})
    b_idx = shared + list(range(first_b, len(sites)))

    # every (site, sample) blob index is drawn once, so A, B and AB agree
    col_of = {n: j for j, n in enumerate(ab_hdr)}
    palettes = {k: blob_palette(rng, k) for k in (1, 2)}
    cell = rng.integers(0, 512, size=(len(sites), len(ab_hdr)), dtype=np.int32)

    def blobs(i, cols):
        pal = palettes[min(2, len(sites[i][4]))]
        row = cell[i]
        return [pal[row[c]] for c in cols]

    dp0_blob = "0/1:0,0:0:10"

    out = args.out
    man = {"seed": args.seed, "scale": args.scale, "map_key": MAP_KEY,
           "samples": {"a": a_hdr, "b": b_hdr}}
    if "a" in needs:
        man["a"] = write_vcf(f"{out}/a.vcf.gz", sites, a_idx, a_hdr, col_of,
                             blobs, dp0_blob)
    if "b" in needs:
        man["b"] = write_vcf(f"{out}/b.vcf.gz", sites, b_idx, b_hdr, col_of,
                             blobs, dp0_blob)
    # AB: A's lines then B's lines, each carrying only its own file's
    # samples ("./." in the others)
    ab_rows = a_idx + b_idx
    ab_sites = [sites[i] for i in ab_rows]
    present = {"a": [n in set(a_hdr) for n in ab_hdr],
               "b": [n in set(b_hdr) for n in ab_hdr]}

    def ab_blobs(k, cols):
        mask = present["a" if k < len(a_idx) else "b"]
        return [b if p else "./.:.:.:."
                for b, p in zip(blobs(ab_rows[k], cols), mask)]

    if "ab" in needs:
        man["ab"] = write_vcf(f"{out}/ab.vcf.gz", ab_sites,
                              range(len(ab_sites)), ab_hdr, col_of, ab_blobs,
                              dp0_blob)

    r1 = genes(rng, sc["genes_per_chrom"])
    write_genes(f"{out}/genes_r1.parquet", r1)
    write_genes(f"{out}/genes_r2.parquet", revise(rng, r1))
    with open(f"{out}/samples.json", "w") as f:
        json.dump(sample_dict, f, sort_keys=True)
    if "events" in needs:
        write_events(f"{out}/events.parquet", rng, sc["events"])
        man["events"] = sc["events"]
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(man, f, sort_keys=True, indent=1)


if __name__ == "__main__":
    main()
