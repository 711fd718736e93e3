#!/usr/bin/env python3
"""Seeded, Aceh-shaped GeoJSON corpus for the benchmark.

Usage: python3 perfbench/gen_corpus.py --seed N --out DIR

Writes DIR/live/*.geojson (the corpus the program syncs), DIR/alt/
(a second version of every kabupaten that has kecamatan files: the
same codes and geometry under different names, plus one kecamatan
more, used to exercise resyncs), and
DIR/manifest.tsv + DIR/manifest.json, the ground truth the checks read.

The shape follows the reference corpus (37 files, 388 features, about
546k points, level mix 1/18/135/234) and its edges:
  - `11_Aceh.geojson` is level 1; `11.NN_Name.geojson` is level 2 even
    though it starts with two digits; `11.NN_kecamatan.geojson` and
    `11.NN_kelurahan.geojson` are levels 3 and 4;
  - `kd_kecamatan` is 3 digits and contributes its last two, and
    `kd_kelurahan` is 3 digits and becomes `2xxx`;
  - some files carry 3-D points (constant and non-zero Z), some
    features are bare Polygons, some MultiPolygons have several parts;
  - one kelurahan lacks `kd_kelurahan` and must be quarantined; one
    kecamatan has a ring too short for the simplifier, which must pass
    it through unsimplified.

The structure (which files exist, features per file, points per
feature) is the same for every seed; the seed draws names, codes and
outlines. Only `random.Random.random()` is used, so a seed gives
byte-identical files on every Python 3 version.
"""
import argparse
import json
import math
import os
import random

PROVINCE = "11"
# 13 kabupaten and 5 kota, as in Aceh's code space
KAB_CODES = ["%02d" % i for i in range(1, 14)] + ["71", "72", "73", "74", "75"]
N_KEC_FILES = 14
N_KEL_FILES = 4
N_KEC = 135
N_KEL = 234
# mean points per feature by level, tuned to ~546k points in total
POINTS = {1: 2200, 2: 9900, 3: 1940, 4: 430}
# names use no 'q' and no 'x', so a query containing either misses
SYLLABLES = ["ba", "da", "ga", "ja", "ka", "la", "ma", "na", "pa", "ra",
             "sa", "ta", "be", "de", "ge", "ke", "le", "me", "ne", "re",
             "se", "te", "bi", "di", "gi", "ki", "li", "mi", "ni", "ri",
             "si", "ti", "bu", "du", "gu", "ku", "lu", "mu", "nu", "ru",
             "su", "tu", "lam", "meu", "seu", "keu", "peu", "ng", "ung",
             "ong", "ang", "eh", "oh", "ah", "ie", "eu"]
KAB_PREFIX = ["Aceh ", "Aceh ", "", "Kota "]
KAB_SUFFIX = [" Selatan", " Utara", " Barat", " Timur", " Tengah", " Jaya",
              ""]
KEC_PREFIX = ["", "", "Kuta ", "Peudada ", "Lhok ", "Banda "]
KEL_PREFIX = ["Gampong ", "Meunasah ", "Blang ", "Lam", "Krueng ", "",
              "Ujong ", "Cot "]


class Stream:
    """Draws from one `random.Random`, using only `random()`."""

    def __init__(self, seed):
        self.rng = random.Random(seed)

    def u(self):
        return self.rng.random()

    def randint(self, lo, hi):
        return lo + min(int(self.u() * (hi - lo + 1)), hi - lo)

    def choice(self, xs):
        return xs[self.randint(0, len(xs) - 1)]

    def partition(self, total, parts, low):
        """`parts` integers >= low summing to `total`."""
        w = [0.5 + self.u() for _ in range(parts)]
        spare = total - low * parts
        xs = [low + int(spare * x / sum(w)) for x in w]
        for i in range(total - sum(xs)):
            xs[i % parts] += 1
        return xs


class Gen:
    """Two streams: `shape` fixes the corpus structure (which files
    exist, features per file, points per feature, 2-D or 3-D, Polygon or
    MultiPolygon) the same for every seed, so the work a sync does hardly
    varies with the seed; the seed drives everything else (names, codes,
    outlines)."""

    def __init__(self, seed):
        self.shape = Stream(0)
        self.content = Stream(seed)
        self.used = set()
        self.points = 0  # every geometry is shared by both versions

    def u(self):
        return self.content.u()

    def randint(self, lo, hi):
        return self.content.randint(lo, hi)

    def choice(self, xs):
        return self.content.choice(xs)

    def word(self, lo=2, hi=4):
        w = "".join(self.choice(SYLLABLES) for _ in range(self.randint(lo, hi)))
        return w[0].upper() + w[1:]

    def unique(self, make):
        # names are unique corpus-wide (both versions), so a top-10
        # search in (level, name) order has exactly one right answer
        while True:
            n = make()
            if n.lower() not in self.used:
                self.used.add(n.lower())
                return n

    def ring(self, cx, cy, r, n, jitter):
        """Closed star-shaped ring of n distinct points around (cx, cy):
        a smooth outline plus jitter, so the simplifier drops some but
        not all points."""
        waves = [(self.randint(2, 9), 0.04 + 0.12 * self.u(), 2 * math.pi * self.u())
                 for _ in range(3)]
        pts = []
        for i in range(n):
            a = 2 * math.pi * i / n
            rr = r * (1 + sum(amp * math.sin(k * a + ph) for k, amp, ph in waves) / 2)
            rr += jitter * (self.u() - 0.5)
            pts.append((cx + rr * math.cos(a), cy + rr * math.sin(a)))
        pts.append(pts[0])
        return pts

    def geometry(self, cx, cy, r, npts, dims, polygon):
        """GeoJSON geometry text with about `npts` points."""
        parts = 1 if polygon else self.shape.choice([1, 1, 1, 2, 3])
        sizes = self.shape.partition(npts, parts, 8) if parts > 1 else [npts]
        polys = []
        for p, size in enumerate(sizes):
            # extra parts are small islands off the main outline
            ox, oy, pr = (0.0, 0.0, r) if p == 0 else (
                2.4 * r * (self.u() - 0.5) + 1.3 * r, 2.4 * r * (self.u() - 0.5), r / 6)
            polys.append([self.ring(cx + ox, cy + oy, pr, size - 1,
                                    jitter=2.4e-4)])
        self.points += sum(len(ring) for poly in polys for ring in poly)
        coords = [[[pt_text(x, y, dims) for (x, y) in ring] for ring in poly]
                  for poly in polys]
        if polygon:
            return '{"type":"Polygon","coordinates":%s}' % nest(coords[0])
        return '{"type":"MultiPolygon","coordinates":%s}' % nest(coords)


def pt_text(x, y, dims):
    if dims == 2:
        return "[%.15f,%.15f]" % (x, y)
    return "[%.15f,%.15f,%s]" % (x, y, dims)


def nest(xs):
    if isinstance(xs, str):
        return xs
    return "[" + ",".join(nest(x) for x in xs) + "]"


def feature(props, geom):
    return '{"type":"Feature","properties":%s,"geometry":%s}' % (
        json.dumps(props, separators=(",", ":")), geom)


def collection(features):
    return '{"type":"FeatureCollection","features":[\n' + ",\n".join(features) + "\n]}\n"


def generate(seed):
    """Returns (files, rows, meta): files maps 'live/<name>' and
    'alt/<name>' to text; rows are (version, kode, level, nama)."""
    g = Gen(seed)
    files, rows = {}, []
    kabs = list(KAB_CODES)
    st = g.shape
    kec_kabs = sorted(kabs[i] for i in sorted(
        range(len(kabs)), key=lambda _: st.u())[:N_KEC_FILES])
    kel_kabs = sorted(kec_kabs[i] for i in sorted(
        range(len(kec_kabs)), key=lambda _: st.u())[:N_KEL_FILES])
    kec_counts = dict(zip(kec_kabs, st.partition(N_KEC, N_KEC_FILES, 4)))
    kel_counts = dict(zip(kel_kabs, st.partition(N_KEL, N_KEL_FILES, 20)))
    # the quarantined kelurahan rides in the first kelurahan file and
    # the simplifier fallback in the last kecamatan file
    bad_kel_kab, short_ring_kab = kel_kabs[0], kec_kabs[-1]
    three_d = {}  # file -> Z (0 = 2-D)

    def dims_for(fname):
        if fname not in three_d:
            three_d[fname] = st.choice([2, 2, "0.0", "12.5"])
        return three_d[fname]

    def npts(level):
        return max(8, int(POINTS[level] * (0.5 + st.u())))

    # level 1: the province
    fname = "11_Aceh.geojson"
    geom = g.geometry(96.7, 4.4, 1.2, npts(1), 2, polygon=False)
    files["live/" + fname] = collection([feature(
        {"kd_propinsi": PROVINCE, "nm_propinsi": "Aceh"}, geom)])
    rows.append(("live", PROVINCE, 1, "Aceh"))
    g.used.add("aceh")

    for ki, kab in enumerate(kabs):
        kode2 = "%s.%s" % (PROVINCE, kab)
        cx = 95.4 + 2.6 * ((ki * 7) % 18) / 18 + 0.1 * g.u()
        cy = 2.6 + 3.4 * ((ki * 11) % 18) / 18 + 0.1 * g.u()
        versions = ["live", "alt"] if kab in kec_kabs else ["live"]
        kab_names = {v: g.unique(lambda: (
            "Kota " + g.word() if kab >= "71" else
            g.choice(KAB_PREFIX[:3]) + g.word() + g.choice(KAB_SUFFIX)).strip())
            for v in versions}
        dims = dims_for(kode2 + "_kab")
        geom = g.geometry(cx, cy, 0.35, npts(2), dims, polygon=False)
        for v in versions:
            name = kab_names[v]
            files["%s/%s_%s.geojson" % (v, kode2, name.replace(" ", "_"))] = collection(
                [feature({"kd_propinsi": PROVINCE, "kd_dati2": kab, "nm_dati2": name}, geom)])
            rows.append((v, kode2, 2, name))
        if kab not in kec_kabs:
            continue
        # level 3: kecamatan
        # distinct last-two digits, some behind a leading '1' (e.g. "110")
        lows = sorted(range(1, 100), key=lambda _: g.u())[:kec_counts[kab]]
        kec_codes = sorted("%d%02d" % (g.choice([0, 0, 1]), v) for v in lows)
        kec_geoms, kec_feats = [], {v: [] for v in versions}
        dims = dims_for(kode2 + "_kecamatan")
        for ci, kc in enumerate(kec_codes):
            a = 2 * math.pi * ci / len(kec_codes)
            kx, ky = cx + 0.2 * math.cos(a), cy + 0.2 * math.sin(a)
            kec_geoms.append((kc, kx, ky))
            if kab == short_ring_kab and ci == len(kec_codes) - 1:
                geom = ('{"type":"MultiPolygon","coordinates":[[[%s,%s,%s]]]}' % (
                    pt_text(kx, ky, 2), pt_text(kx + 0.01, ky, 2), pt_text(kx, ky, 2)))
                g.points += 3
            else:
                geom = g.geometry(kx, ky, 0.08, npts(3), dims,
                                  polygon=st.u() < 0.15)
            for v in versions:
                name = g.unique(lambda: g.choice(KEC_PREFIX) + g.word())
                kec_feats[v].append(feature(
                    {"kd_propinsi": PROVINCE, "kd_dati2": kab,
                     "kd_kecamatan": kc, "nm_kecamatan": name}, geom))
                rows.append((v, "%s.%s" % (kode2, kc[-2:]), 3, name))
        # the second version adds one kecamatan, so that a resync changes
        # the kabupaten's counts as well as its names
        spare = next(v for v in sorted(range(1, 100), key=lambda _: g.u()) if v not in lows)
        kc = "0%02d" % spare
        shared_points = g.points
        geom = g.geometry(cx, cy + 0.3, 0.03, 64, dims, polygon=True)
        g.points = shared_points  # counts the live version only
        name = g.unique(lambda: g.choice(KEC_PREFIX) + g.word())
        kec_feats["alt"].append(feature(
            {"kd_propinsi": PROVINCE, "kd_dati2": kab,
             "kd_kecamatan": kc, "nm_kecamatan": name}, geom))
        rows.append(("alt", "%s.%s" % (kode2, kc[-2:]), 3, name))
        for v in versions:
            files["%s/%s_kecamatan.geojson" % (v, kode2)] = collection(kec_feats[v])
        if kab not in kel_kabs:
            continue
        # level 4: kelurahan under this kabupaten's kecamatan
        kel_feats = {v: [] for v in versions}
        dims = dims_for(kode2 + "_kelurahan")
        per_kec = {}
        for li in range(kel_counts[kab]):
            kc, kx, ky = kec_geoms[li % len(kec_geoms)]
            per_kec[kc] = per_kec.get(kc, 0) + 1
            kl = "%03d" % per_kec[kc]
            geom = g.geometry(kx + 0.05 * (g.u() - 0.5), ky + 0.05 * (g.u() - 0.5),
                              0.012, npts(4), dims, polygon=st.u() < 0.15)
            for v in versions:
                name = g.unique(lambda: (g.choice(KEL_PREFIX) + g.word()).strip())
                kel_feats[v].append(feature(
                    {"kd_propinsi": PROVINCE, "kd_dati2": kab, "kd_kecamatan": kc,
                     "kd_kelurahan": kl, "nm_kelurahan": name}, geom))
                rows.append((v, "%s.%s.2%s" % (kode2, kc[-2:], kl), 4, name))
        if kab == bad_kel_kab:
            # no kd_kelurahan: the program cannot derive a key
            geom = g.geometry(cx, cy, 0.01, 16, 2, polygon=False)
            for v in versions:
                kel_feats[v].append(feature(
                    {"kd_propinsi": PROVINCE, "kd_dati2": kab, "kd_kecamatan": kec_codes[0],
                     "nm_kelurahan": "Tanpa Kode"}, geom))
        for v in versions:
            files["%s/%s_kelurahan.geojson" % (v, kode2)] = collection(kel_feats[v])

    live_rows = [r for r in rows if r[0] == "live"]
    live_files = sorted(f for f in files if f.startswith("live/"))
    meta = {
        "seed": seed,
        "files": len(live_files),
        "features": len(live_rows),
        "quarantined": 1,
        "simplify_fallbacks": 1,
        "levels": {str(l): sum(1 for r in live_rows if r[2] == l) for l in (1, 2, 3, 4)},
        "points": g.points,
        "input_bytes": sum(len(files[f].encode()) for f in live_files),
        "kabupaten": [PROVINCE + "." + k for k in kabs],
        "resync_kabupaten": [PROVINCE + "." + k for k in kec_kabs],
    }
    return files, rows, meta


def write(out, seed):
    files, rows, meta = generate(seed)
    for sub in ("live", "alt"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(out, name), "w", encoding="utf-8", newline="\n") as f:
            f.write(text)
    with open(os.path.join(out, "manifest.tsv"), "w", encoding="utf-8", newline="\n") as f:
        for v, kode, level, nama in rows:
            f.write("%s\t%s\t%d\t%s\n" % (v, kode, level, nama))
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8", newline="\n") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
        f.write("\n")
    return meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write(a.out, a.seed), sort_keys=True))


if __name__ == "__main__":
    main()
