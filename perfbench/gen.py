"""Seeded input generator for the gaze-engine benchmark.

Writes one workload's inputs, plus the planted ground truth the output
checks compare against, into a directory. The same seed gives
byte-identical files. Nothing here is timed; the engine only ever sees
the files written here.

    python3 perfbench/gen.py --workload fleet_calibrate --seed 1 --out DIR
"""
import argparse
import json
import os
import struct

import numpy as np

WORKLOADS = ("fleet_calibrate", "session_pipeline", "stream_ingest",
             "corpus_index")

# Fixed sizes. A change here is a change of the benchmark.
FLEET_SESSIONS = 96           # sessions per fleet iteration
FLEET_REJECT_SHARE = 0.05     # sessions planted below the 4-cluster gate
FLEET_REPS = 2                # marker samples per cluster
SESSION_SECONDS = 190         # session_pipeline: binocular session length
EYE_HZ = 120.0
WORLD_HZ = 30.0
STREAM_SESSIONS = 4
STREAM_CHUNK_S = 1.0          # one chunk = one session's 1 s of both eyes
STREAM_BACKLOG = 96           # chunks drained closed-loop
STREAM_POOL = 200             # chunks staged for the open-loop phase
CORPUS_DOCS = 1200
CORPUS_DUP_CLUSTERS = 100     # each: one original + 1..2 near copies
CORPUS_VECS = 3000
CORPUS_APPEND = 300
CORPUS_DIM = 32
CORPUS_GROUP = 11             # a vector's 10 planted neighbours + itself
CORPUS_QUERIES = 100


# ------------------------------------------------------------ file formats

def _mp(v):
    """MessagePack subset the engine's pldata reader accepts."""
    if v is None:
        return b"\xc0"
    if isinstance(v, bool):
        return b"\xc3" if v else b"\xc2"
    if isinstance(v, int):
        return bytes([v]) if 0 <= v <= 0x7F else b"\xd3" + struct.pack(">q", v)
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode()
        return b"\xdb" + struct.pack(">I", len(b)) + b
    if isinstance(v, bytes):
        return b"\xc6" + struct.pack(">I", len(v)) + v
    if isinstance(v, (list, tuple)):
        return b"\xdd" + struct.pack(">I", len(v)) + b"".join(_mp(x) for x in v)
    if isinstance(v, dict):
        return b"\xdf" + struct.pack(">I", len(v)) + b"".join(
            _mp(k) + _mp(x) for k, x in v.items())
    raise TypeError(type(v))


def write_pldata(d, topic, ts, payloads):
    """`<topic>.pldata` (msgpack (topic, payload) records) + the
    `<topic>_timestamps.npy` sidecar."""
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, topic + ".pldata"), "wb") as f:
        for p in payloads:
            f.write(_mp((topic, _mp(p))))
    write_npy(os.path.join(d, topic + "_timestamps.npy"), ts)


def write_npy(path, a):
    np.save(path, np.ascontiguousarray(a, dtype="<f8"), allow_pickle=False)


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)


def random_affine(rng):
    """An invertible pupil→gaze affine: [a b; c d]·p + (tx, ty)."""
    a, d = rng.uniform(0.75, 0.95, 2)
    b, c = rng.uniform(-0.1, 0.1, 2)
    tx, ty = rng.uniform(0.02, 0.08, 2)
    return [float(x) for x in (a, b, c, d, tx, ty)]


def inverse_affine(aff, gx, gy):
    a, b, c, d, tx, ty = aff
    det = a * d - b * c
    x, y = gx - tx, gy - ty
    return (d * x - b * y) / det, (a * y - c * x) / det


# ------------------------------------------------------------ workloads

def gen_fleet(rng, out):
    """Many short sessions, one calibration each. Session s has n_s
    marker clusters on a jittered 7x7 grid, FLEET_REPS samples each, and
    its pupils are the inverse of its planted affine plus noise."""
    n = FLEET_SESSIONS
    rejected = np.zeros(n, bool)
    rejected[rng.choice(n, max(1, int(round(n * FLEET_REJECT_SHARE))), replace=False)] = True
    # cluster counts 16-49, drawn stratified (one draw per equal-width
    # stratum, strata shuffled) so each seed plants the same total work
    n_ok = int((~rejected).sum())
    counts = iter(rng.permutation(
        16 + np.floor((np.arange(n_ok) + rng.random(n_ok)) * 34 / n_ok)).astype(int))
    grid = np.array([(0.1 + 0.8 * i / 6, 0.1 + 0.8 * j / 6)
                     for j in range(7) for i in range(7)])
    cols = {k: [] for k in ("session", "timestamp", "mx", "my", "cluster",
                            "pts", "px", "py")}
    truth = []
    for s in range(n):
        k = int(rng.integers(2, 4)) if rejected[s] else int(next(counts))
        aff = random_affine(rng)
        pos = grid[np.sort(rng.choice(49, k, replace=False))]
        pos = pos + rng.uniform(-0.01, 0.01, pos.shape)
        for rep in range(FLEET_REPS):
            for c in range(k):
                t = float(rep * k + c)
                mx = pos[c, 0] + rng.normal(0, 5e-5)
                my = pos[c, 1] + rng.normal(0, 5e-5)
                px, py = inverse_affine(aff, pos[c, 0], pos[c, 1])
                for key, v in (("session", s), ("timestamp", t), ("mx", mx),
                               ("my", my), ("cluster", c), ("pts", t + 0.002),
                               ("px", px + rng.normal(0, 5e-5)),
                               ("py", py + rng.normal(0, 5e-5))):
                    cols[key].append(v)
        truth.append({"session": s, "clusters": k, "affine": aff,
                      "rejected": bool(rejected[s])})
    for key, v in cols.items():
        write_npy(os.path.join(out, key + ".npy"), np.array(v, float))
    write_json(os.path.join(out, "truth.json"), {"sessions": truth})


def _session_markers(rng, fps, cal_start, val_starts):
    """Marker detections with the golden-session noise modes: calibration
    on a 5x5 grid, validation epochs on shifted 4x4 grids, an oblique
    run, brief detections, duplicated and drifted timestamps."""
    ms = []   # (timestamp, x, y, sx, sy)
    for c in range(25):
        mx, my = 0.1 + 0.2 * (c % 5), 0.1 + 0.2 * (c // 5)
        f0 = int(round((cal_start + c * 2.4) * fps))
        for f in range(f0, f0 + 72):
            ms.append((f / fps, mx + rng.normal(0, 5e-4),
                       my + rng.normal(0, 5e-4), 0.05, 0.05))
    cal_end = cal_start + 60.0
    for f in range(int(cal_end * fps), int((cal_end + 1) * fps)):
        ms.append((f / fps, 0.9, 0.9, 0.06, 0.0375))          # oblique run
    val_targets = []
    for j, v0 in enumerate(val_starts):
        off = 0.02 * j
        for c in range(16):
            mx, my = 0.15 + off + 0.2 * (c % 4), 0.15 + off + 0.2 * (c // 4)
            # the eye fixates a little off each validation marker: a planted
            # error of 0.05-0.15 deg, uniform, so no point falls past the
            # error map's 4-std outlier cut
            r, a = rng.uniform(5e-4, 1.5e-3), rng.uniform(0, 2 * np.pi)
            val_targets.append((v0 + c * 2.2, v0 + (c + 1) * 2.2,
                                mx + r * np.cos(a), my + r * np.sin(a)))
            f0 = int(round((v0 + c * 2.2) * fps))
            for f in range(f0, f0 + 66):
                ms.append((f / fps, mx + rng.normal(0, 5e-4),
                           my + rng.normal(0, 5e-4), 0.05, 0.05))
    gap = cal_end + 10.0
    for k in range(8):                                       # brief detections
        ms.append(((int(gap * fps) + k * 37) / fps, float(rng.random()),
                   float(rng.random()), 0.004, 0.004))
    ms += [m for m in ms if m[0] < cal_end][:20]             # duplicates
    ms = [(m[0] + 4e-9,) + m[1:] if i % 97 == 0 and m[0] > cal_start + 1 else m
          for i, m in enumerate(ms)]                         # float drift
    return ms, val_targets


def binocular_counts(pupils):
    """(binocular, monocular) gaze counts of the pupil-pairing state
    machine of the reference's Binocular_Gaze_Mapper (two eye queues, an
    EMA-smoothed pairing cutoff, low-confidence heads mapped alone),
    replayed over time-ordered (timestamp, eye, confidence) rows."""
    q = ([], [])
    ema, n_bino, n_mono = 1.0 / 120.0, 0, 0

    def mean_diff(x):
        return (x[-1][0] - x[0][0]) / (len(x) - 1) if len(x) >= 2 else None

    for p in pupils:
        q[p[1]].append(p)
        d = [v for v in (mean_diff(q[0]), mean_diff(q[1])) if v is not None]
        if d:
            ema += (max(d) - ema) / 50.0
        if q[0] and q[0][0][2] < 0.6:
            q[0].pop(0); n_mono += 1
        elif q[1] and q[1][0][2] < 0.6:
            q[1].pop(0); n_mono += 1
        elif q[0] and q[1]:
            older = 0 if q[0][0][0] < q[1][0][0] else 1
            h = q[older].pop(0)
            other = q[1 - older][0]
            if abs(h[0] - other[0]) < 2 * ema:
                n_bino += 1
            else:
                n_mono += 1
        elif len(q[0]) > 10:
            q[0].pop(0); n_mono += 1
        elif len(q[1]) > 10:
            q[1].pop(0); n_mono += 1
    return n_bino, n_mono


def gen_session(rng, out):
    """One binocular session: 120 Hz eyes (eye1 offset by half a frame),
    a 30 Hz world clock, one calibration and two validation epochs."""
    cal_start, val_starts = 5.0, [90.0, 145.0]
    low_conf = (30.0, 32.0)
    ms, val_targets = _session_markers(rng, WORLD_HZ, cal_start, val_starts)
    affs = [random_affine(rng), random_affine(rng)]

    def targets(t):
        """Gaze target at each time t: the enclosing cluster's marker
        (plus the planted fixation error in validation), else centre."""
        gx, gy = np.full(len(t), 0.5), np.full(len(t), 0.5)
        cal = (t >= cal_start) & (t < cal_start + 60.0)
        c = np.minimum(24, ((t - cal_start) / 2.4).astype(int))
        gx[cal], gy[cal] = 0.1 + 0.2 * (c[cal] % 5), 0.1 + 0.2 * (c[cal] // 5)
        for (a, b, mx, my) in val_targets:
            on = (t >= a) & (t < b)
            gx[on], gy[on] = mx, my
        return gx, gy

    n_eye = int(SESSION_SECONDS * EYE_HZ)
    rows = []
    for eye in (0, 1):
        ts = np.arange(n_eye) / EYE_HZ + eye * 0.5 / EYE_HZ
        px, py = inverse_affine(affs[eye], *targets(ts))
        px = px + rng.normal(0, 3e-4, n_eye)
        py = py + rng.normal(0, 3e-4, n_eye)
        low = (ts >= low_conf[0]) & (ts < low_conf[1])
        conf = np.where(low, 0.3, 0.9 + (np.arange(n_eye) % 7) * 0.01)
        rows += [(float(t), eye, float(c)) for t, c in zip(ts, conf)]
        write_pldata(out, "pupil_eye%d" % eye, ts, [
            {"norm_pos": [float(x), float(y)], "confidence": float(c), "id": eye}
            for x, y, c in zip(px, py, conf)])
    write_pldata(out, "markers", [m[0] for m in ms],
                 [{"norm_pos": [m[1], m[2]], "size": [m[3], m[4]]} for m in ms])
    write_npy(os.path.join(out, "world_timestamps.npy"),
              np.arange(int(SESSION_SECONDS * WORLD_HZ)) / WORLD_HZ)
    n_bino, n_mono = binocular_counts(sorted(rows))
    write_json(os.path.join(out, "truth.json"), {
        "affines": affs, "validation_clusters": len(val_targets),
        "eye_rows": n_eye, "binocular_rows": n_bino, "monocular_rows": n_mono,
        "err_median_bound_deg": 0.2})


def gen_stream(rng, out):
    """Two-eye pupil chunks for STREAM_SESSIONS sessions, round-robin:
    a backlog tree and a pool of `_`-staged chunks the run renames into
    place on schedule."""
    affs = [random_affine(rng), random_affine(rng)]
    per = int(STREAM_CHUNK_S * EYE_HZ)

    def chunk(d, s, k):
        t = (1000.0 + k * STREAM_CHUNK_S + np.repeat(np.arange(per) / EYE_HZ, 2)
             + np.tile([0.0, 0.5 / EYE_HZ], per))
        eye = np.tile([0, 1], per)
        gx, gy = 0.5 + 0.3 * np.sin(t * 0.7 + s), 0.5 + 0.3 * np.cos(t * 0.5)
        pxy = np.array([inverse_affine(affs[e], x, y) for e, x, y in zip(eye, gx, gy)])
        pxy += rng.normal(0, 3e-4, pxy.shape)
        conf = rng.uniform(0.7, 1.0, len(t))
        write_pldata(d, "pupil", t, [
            {"session": "s%d" % s, "id": int(e), "norm_pos": [float(x), float(y)],
             "confidence": float(c)} for e, (x, y), c in zip(eye, pxy, conf)])

    for name, n, prefix in (("backlog", STREAM_BACKLOG, "c"),
                            ("pool", STREAM_POOL, "_c")):
        for i in range(n):
            chunk(os.path.join(out, name, "%s%05d" % (prefix, i)),
                  i % STREAM_SESSIONS, i // STREAM_SESSIONS)
    write_json(os.path.join(out, "truth.json"), {
        "affines": affs, "rows_per_chunk": 2 * per,
        "backlog_chunks": STREAM_BACKLOG, "pool_chunks": STREAM_POOL})


def gen_corpus(rng, out):
    """Documents with planted near-duplicate clusters, and embeddings in
    tight groups of CORPUS_GROUP with brute-force top-10 truth."""
    vocab = ["w%04d" % i for i in range(4000)]
    docs, pairs = [], []
    n_orig = CORPUS_DOCS - 2 * CORPUS_DUP_CLUSTERS
    for i in range(n_orig):
        docs.append(" ".join(rng.choice(vocab, int(rng.integers(60, 120)))))
    for c in range(CORPUS_DUP_CLUSTERS):
        base = docs[c].split()
        ids = [c]
        for _ in range(int(rng.integers(1, 3))):
            w = list(base)
            for p in rng.choice(len(w), max(1, len(w) // 60), replace=False):
                w[p] = vocab[int(rng.integers(len(vocab)))]
            ids.append(len(docs))
            docs.append(" ".join(w))
        pairs += [[a, b] for i, a in enumerate(ids) for b in ids[i + 1:]]
    while len(docs) < CORPUS_DOCS:
        docs.append(" ".join(rng.choice(vocab, int(rng.integers(60, 120)))))
    with open(os.path.join(out, "docs.txt"), "w") as f:
        f.write("\n".join(docs) + "\n")

    n = CORPUS_VECS + CORPUS_APPEND
    centers = rng.normal(0, 1, (n // CORPUS_GROUP + 1, CORPUS_DIM))
    vecs = (np.repeat(centers, CORPUS_GROUP, 0)[:n]
            + rng.normal(0, 0.05, (n, CORPUS_DIM)))
    write_npy(os.path.join(out, "vecs.npy"), vecs.ravel())
    un = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def top10(qs, upto):
        sims = un[qs] @ un[:upto].T
        sims[np.arange(len(qs)), qs] = -np.inf
        return np.argsort(-sims, axis=1, kind="stable")[:, :10].tolist()

    q_base = sorted(rng.choice(CORPUS_VECS, CORPUS_QUERIES, replace=False).tolist())
    q_app = list(range(CORPUS_VECS, n, max(1, CORPUS_APPEND // 50)))
    write_json(os.path.join(out, "truth.json"), {
        "dup_pairs": pairs, "dim": CORPUS_DIM, "base": CORPUS_VECS,
        "appended": CORPUS_APPEND,
        "queries": q_base, "truth": top10(q_base, CORPUS_VECS),
        "append_queries": q_app, "append_truth": top10(q_app, n),
        "min_recall_at_10": 0.9})


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    {"fleet_calibrate": gen_fleet, "session_pipeline": gen_session,
     "stream_ingest": gen_stream, "corpus_index": gen_corpus}[workload](rng, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
