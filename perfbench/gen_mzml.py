"""Seeded planted-factor DIA mzML generator.

Each sample is one mzML file. Every cycle holds one MS1 spectrum and then
one MS2 spectrum per isolation window. The signal is a sum of planted
non-negative components, one set per isolation window:

    MS2(sample s, window w, time t) = sum_k a[s,k] * e_k(t) * spectrum_k + noise

where e_k is a Gaussian elution profile, spectrum_k holds `fragments`
fixed m/z values with random relative intensities, and a[s,k] is a
log-normal sample abundance. MS1 carries every component's precursor at
every cycle (so each slice sees every MS1 acquisition time) plus noise.
This is the PARAFAC model the pipeline's stage 5 fits, so the planted
spectra are the truth the selected models should recover.

Arrays are base64: m/z 64-bit, intensity 32-bit, optionally zlib. The
same (seed, parameters) gives byte-identical files. The planted truth is
written as truth.json beside the mzML files.

Usage: generate(out_dir, seed, params), with the parameters of the dia
workload in run.py's WORKLOADS table.
"""
import base64
import json
import os
import zlib

import numpy as np

CYCLE_S = 2.0
MZ_LO, MZ_HI = 150.0, 1200.0
WIN_LO, WIN_WIDTH, WIN_OVERLAP = 400.0, 25.0, 0.5


def plant(rng, p):
    """Planted components per window: precursor, fragments, apex, width.

    Apexes are stratified over the run (component k of K in the k-th
    K-th of it), so every slice holds about the same number of
    components whatever the seed."""
    n_time = p["cycles"] * CYCLE_S
    stratum = n_time / p["components"]
    comps = []
    for w in range(p["windows"]):
        lo = WIN_LO + w * WIN_WIDTH
        for k in range(p["components"]):
            frag_mz = np.sort(rng.uniform(MZ_LO, MZ_HI, p["fragments"]))
            frag_rel = rng.uniform(0.1, 1.0, p["fragments"])
            comps.append({
                "window": w,
                "component": k,
                "precursor_mz": float(rng.uniform(lo + 1.0, lo + WIN_WIDTH - 1.0)),
                "apex_rt": float((k + rng.uniform(0.2, 0.8)) * stratum),
                "fwhm_s": float(p["fwhm_s"] * rng.uniform(0.8, 1.25)),
                "scale": float(10 ** rng.uniform(4.0, 5.5)),
                "fragment_mz": frag_mz.tolist(),
                "fragment_rel": (frag_rel / frag_rel.max()).tolist(),
            })
    abundance = rng.lognormal(0.0, 0.5, (p["samples"], len(comps)))
    return comps, abundance


def elution(comps, rt):
    apex = np.array([c["apex_rt"] for c in comps])
    sigma = np.array([c["fwhm_s"] for c in comps]) / 2.3548
    return np.exp(-0.5 * ((rt - apex) / sigma) ** 2)


def encode(arr, dtype, use_zlib):
    raw = np.ascontiguousarray(arr, dtype=dtype).tobytes()
    if use_zlib:
        raw = zlib.compress(raw, 6)
    return base64.b64encode(raw).decode("ascii")


def binary_array(arr, is_mz, use_zlib):
    dtype, prec = ("<f8", "MS:1000523") if is_mz else ("<f4", "MS:1000521")
    kind = ("MS:1000514", "m/z array") if is_mz else ("MS:1000515", "intensity array")
    comp = ("MS:1000574", "zlib compression") if use_zlib else ("MS:1000576", "no compression")
    data = encode(arr, dtype, use_zlib)
    return (
        f'<binaryDataArray encodedLength="{len(data)}">'
        f'<cvParam cvRef="MS" accession="{prec}" value=""/>'
        f'<cvParam cvRef="MS" accession="{comp[0]}" name="{comp[1]}" value=""/>'
        f'<cvParam cvRef="MS" accession="{kind[0]}" name="{kind[1]}" value=""/>'
        f"<binary>{data}</binary></binaryDataArray>")


def spectrum_xml(index, level, rt, mz, inten, window, use_zlib):
    order = np.argsort(mz, kind="stable")
    mz, inten = mz[order], inten[order]
    head = (f'<spectrum index="{index}" id="scan={index + 1}" '
            f'defaultArrayLength="{len(mz)}">'
            f'<cvParam cvRef="MS" accession="MS:1000511" name="ms level" value="{level}"/>'
            f'<scanList count="1"><scan><cvParam cvRef="MS" accession="MS:1000016" '
            f'name="scan start time" value="{rt:.4f}" unitName="second"/></scan></scanList>')
    prec = ""
    if level == 2:
        lo, hi = window
        centre = (lo + hi) / 2.0
        prec = ('<precursorList count="1"><precursor><isolationWindow>'
                f'<cvParam cvRef="MS" accession="MS:1000827" value="{centre:.4f}"/>'
                f'<cvParam cvRef="MS" accession="MS:1000828" value="{centre - lo:.4f}"/>'
                f'<cvParam cvRef="MS" accession="MS:1000829" value="{hi - centre:.4f}"/>'
                "</isolationWindow></precursor></precursorList>")
    arrays = ('<binaryDataArrayList count="2">'
              + binary_array(mz, True, use_zlib)
              + binary_array(inten, False, use_zlib)
              + "</binaryDataArrayList>")
    return head + prec + arrays + "</spectrum>\n"


def write_sample(path, s, rng, p, comps, abundance):
    n_win, use_zlib = p["windows"], p["zlib"]
    windows = [(WIN_LO + w * WIN_WIDTH - WIN_OVERLAP,
                WIN_LO + (w + 1) * WIN_WIDTH + WIN_OVERLAP) for w in range(n_win)]
    by_window = [[i for i, c in enumerate(comps) if c["window"] == w]
                 for w in range(n_win)]
    prec_mz = np.array([c["precursor_mz"] for c in comps])
    scale = np.array([c["scale"] for c in comps])
    frag_mz = [np.array(c["fragment_mz"]) for c in comps]
    frag_rel = [np.array(c["fragment_rel"]) for c in comps]
    ms1_lo, ms1_hi = windows[0][0], windows[-1][1]
    index = 0
    with open(path, "w", encoding="ascii") as f:
        f.write('<?xml version="1.0" encoding="utf-8"?>\n'
                '<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">'
                f'<run id="sample{s}"><spectrumList count="{p["cycles"] * (n_win + 1)}">\n')
        for c in range(p["cycles"]):
            t0 = c * CYCLE_S
            # MS1: every precursor every cycle, plus noise across the windows
            amp = abundance[s] * scale * elution(comps, t0)
            ms1_int = amp * rng.lognormal(0.0, p["noise_cv"], len(comps)) + 5.0
            n_noise = p["noise_peaks"]
            mz = np.concatenate([prec_mz, rng.uniform(ms1_lo, ms1_hi, n_noise)])
            inten = np.concatenate([ms1_int, rng.exponential(50.0, n_noise) + 1.0])
            f.write(spectrum_xml(index, 1, t0, mz, inten, None, use_zlib))
            index += 1
            for w in range(n_win):
                rt = t0 + (w + 1) * CYCLE_S / (n_win + 1)
                el = elution([comps[i] for i in by_window[w]], rt)
                mzs, ints = [], []
                for j, i in enumerate(by_window[w]):
                    a = abundance[s, i] * scale[i] * el[j]
                    if a < 1.0:
                        continue
                    vals = a * frag_rel[i] * rng.lognormal(0.0, p["noise_cv"], len(frag_rel[i]))
                    mzs.append(frag_mz[i])
                    ints.append(vals)
                mzs.append(rng.uniform(MZ_LO, MZ_HI, n_noise))
                ints.append(rng.exponential(50.0, n_noise) + 1.0)
                f.write(spectrum_xml(index, 2, rt, np.concatenate(mzs),
                                     np.concatenate(ints), windows[w], use_zlib))
                index += 1
        f.write("</spectrumList></run></mzML>\n")


def generate(out_dir, seed, p):
    """Write sample*.mzML and truth.json into out_dir; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    comps, abundance = plant(rng, p)
    paths = []
    for s in range(p["samples"]):
        path = os.path.join(out_dir, f"sample{s:02d}.mzML")
        write_sample(path, s, np.random.default_rng([seed, s]), p, comps, abundance)
        paths.append(path)
    # slice keys of the adjusted windows: the first keeps its lower bound,
    # each later one starts at the midpoint of the overlap before it
    keys = [f"{WIN_LO - WIN_OVERLAP:.2f}"] + [
        f"{WIN_LO + w * WIN_WIDTH:.2f}" for w in range(1, p["windows"])]
    truth = {"seed": seed, "params": p, "cycle_s": CYCLE_S, "swath_keys": keys,
             "components": comps, "abundance": abundance.tolist()}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return paths

