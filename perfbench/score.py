"""Planted-truth scorer for the dia workload.

A planted component counts as recovered when a mass-mode column of a
best model of the slice holding its elution apex matches its planted
spectrum at cosine >= COSINE_MIN. The planted spectrum is laid onto the
model's m/z partitions the way the tensorizer bins peaks: each fragment
(MS2) and the precursor (MS1) goes to the partition with the greatest
start at or below its m/z, when it lies within the partition's ppm
tolerance of that start. Labels carry the start to 4 decimals (of its
float32 value), so comparisons allow LABEL_SLACK.
"""
import bisect
import math

COSINE_MIN = 0.9
MASS_TOL_PPM = 40.0
RT_WINDOW_S = 60.0
LABEL_SLACK = 1e-4


def planted_vector(comp, labels):
    starts = {1: [], 2: []}
    index = {}
    for i, lbl in enumerate(labels):
        mz, level = lbl.split("_ms")
        starts[int(level)].append(float(mz))
        index[(int(level), float(mz))] = i
    for lv in starts:
        starts[lv].sort()
    vec = [0.0] * len(labels)

    def put(level, mz, weight):
        s = starts[level]
        j = bisect.bisect_right(s, mz + LABEL_SLACK) - 1
        if j >= 0 and mz - s[j] <= s[j] * MASS_TOL_PPM * 1e-6 + LABEL_SLACK:
            vec[index[(level, s[j])]] += weight

    for mz, rel in zip(comp["fragment_mz"], comp["fragment_rel"]):
        put(2, mz, rel)
    put(1, comp["precursor_mz"], 1.0)
    return vec


def cosine(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return 0.0 if na == 0 or nb == 0 else sum(x * y for x, y in zip(a, b)) / (na * nb)


def recovered_fraction(truth, best_models):
    by_slice = {}
    for m in best_models:
        by_slice.setdefault((m["swath_key"], m["rt_window"]), []).append(m)
    hits = 0
    for comp in truth["components"]:
        key = (truth["swath_keys"][comp["window"]], int(comp["apex_rt"] // RT_WINDOW_S))
        best = 0.0
        for m in by_slice.get(key, []):
            v = planted_vector(comp, m["mz_indices"])
            f = m["ncomp"]
            for k in range(f):
                col = m["mass_mode"][k::f]
                best = max(best, cosine(v, col))
        hits += best >= COSINE_MIN
    return hits / len(truth["components"])
