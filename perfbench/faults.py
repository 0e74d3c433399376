"""Expected answers for the clip workloads, computed by arithmetic.

Mirrors the generator rule in ClipGen.scala (splitmix64 over seed, row
index and stream) without running the engine: the failing partitions, the
per-check rowsFailed, the drift statistics and the (clip_id, check_name)
evidence set.
"""
import math

M64 = (1 << 64) - 1
PARTS = 16
DRIFT_LO, DRIFT_HI, DRIFT_BINS = 0.0, 1024.0, 32
KINDS = ["codec_fk", "dur_ms_range", "transcript_equality", "pcm_allclose",
         "clips_completeness", "clips_exclusivity"]
EXTRA_BASE = 900000000000


def mix64(z):
    z = (z + 0x9E3779B97F4A7C15) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return z ^ (z >> 31)


def h(seed, i, stream):
    return ((mix64((mix64((seed * 1000003 + stream) & M64) + i) & M64)) >> 1)


def part_id(p):
    return "p%04d" % p


def clip_id(i):
    return "clip_%012d" % i


def dur_ms(seed, i):
    return 200 + h(seed, i, 5) % 601


def faulted(seed, p):
    return (p - seed) % 4 == 0


def fault_rows(seed, rows_per_part, p):
    """Global row index of each fault kind 0..4 in partition p."""
    base = h(seed, p, 7) % rows_per_part
    stride = rows_per_part // 6
    return [p * rows_per_part + (base + k * stride) % rows_per_part for k in range(5)]


def _bin(v):
    width = (DRIFT_HI - DRIFT_LO) / DRIFT_BINS
    return min(DRIFT_BINS - 1, max(0, int(math.floor((v - DRIFT_LO) / width))))


def _ks_psi(ref, cand):
    tr, tc = max(sum(ref), 1), max(sum(cand), 1)
    ks, acc_r, acc_c, psi = 0.0, 0, 0, 0.0
    for r, c in zip(ref, cand):
        acc_r += r
        acc_c += c
        ks = max(ks, abs(acc_r / tr - acc_c / tc))
        pe, pa = max(r / tr, 1e-6), max(c / tc, 1e-6)
        psi += (pa - pe) * math.log(pa / pe)
    return ks, psi


def expected_partitions(seed, rows_per_part, with_faults):
    """part_id -> {"status", "rows": {check: rowsFailed}, "ks", "psi"}."""
    out = {}
    for p in range(PARTS):
        ref = [0] * DRIFT_BINS
        cand = [0] * DRIFT_BINS
        rows = {}
        bad = with_faults and faulted(seed, p)
        frows = fault_rows(seed, rows_per_part, p) if bad else []
        for i in range(p * rows_per_part, (p + 1) * rows_per_part):
            d = dur_ms(seed, i)
            ref[_bin(d)] += 1
            if bad and i == frows[4]:
                continue  # dropped row
            cand[_bin(0 if bad and i == frows[1] else d)] += 1
        if bad:
            cand[_bin(300)] += 1  # the extra row
            rows = {k: 1 for k in KINDS}
        ks, psi = _ks_psi(ref, cand)
        fail = any(v > 0 for v in rows.values()) or ks > 0.1
        out[part_id(p)] = {"status": "FAILED" if fail else "SUCCESS",
                           "rows": rows, "ks": ks, "psi": psi}
    return out


def expected_evidence(seed, rows_per_part):
    ev = set()
    for p in range(PARTS):
        if not faulted(seed, p):
            continue
        frows = fault_rows(seed, rows_per_part, p)
        for k in range(5):
            ev.add((part_id(p), clip_id(frows[k]), KINDS[k]))
        ev.add((part_id(p), clip_id(EXTRA_BASE + p), KINDS[5]))
    return ev


def check_outcomes(outcomes, exp, where):
    """Compares one partition's engine outcomes with the expectation."""
    errs = []
    seen = set()
    for o in outcomes:
        name = o["check"]
        seen.add(name)
        if name.endswith("_ks_drift") or name.endswith("_psi_drift"):
            want = exp["ks"] if name.endswith("_ks_drift") else exp["psi"]
            got = float(o["observed"])
            if abs(got - want) > 1e-6:
                errs.append(f"{where}: {name} observed {got}, expected {want:.6f}")
            if o["rows_failed"] != 0:
                errs.append(f"{where}: {name} rowsFailed {o['rows_failed']}, expected 0")
            continue
        want = exp["rows"].get(name, 0)
        if o["rows_failed"] != want:
            errs.append(f"{where}: {name} rowsFailed {o['rows_failed']}, expected {want}")
    for name in exp["rows"]:
        if name not in seen:
            errs.append(f"{where}: check {name} missing from the report")
    return errs
