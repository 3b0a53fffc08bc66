"""Seeded input generator for the graft co-occurrence benchmark.

Every workload's input is a pure function of (workload, seed, size): the
program under test only ever sees the CSV files written here
(`user,item,timestampMillis`, the reference job's input format).
"""
import os

import numpy as np

DAY_MS = 86_400_000
# 2024-01-01T00:00:00Z: every generated timestamp lies on or after it, so
# window ids (ts // windowMs) are positive and files map to whole days.
EPOCH_MS = 1_704_067_200_000

# Workload shapes. `tiny` is the smoke-test size; `full` is what the
# benchmark measures. kMax/fMax are the reference's user and item cuts
# (-uc / -ic); both bind on the batch and stream inputs.
SIZES = {
    "full": {
        "batch_sampled": dict(users=1500, items=1200, light_mean=10, heavy_share=0.15,
                              heavy_lo=35, heavy_hi=120, days=12, zipf=1.1,
                              k_max=25, f_max=120),
        "stream_ckpt": dict(users=900, items=900, light_mean=8, heavy_share=0.15,
                            heavy_lo=30, heavy_hi=90, days=6, zipf=1.1,
                            k_max=25, f_max=120),
        "maint_mixed": dict(users_per_batch=220, items=900, events_per_user=8,
                            max_distinct=16, span=3, batches=6, delete_every=3,
                            delete_share=0.25, zipf=1.05, warmup_batches=1,
                            compact_every=3),
    },
    "tiny": {
        "batch_sampled": dict(users=120, items=80, light_mean=6, heavy_share=0.2,
                              heavy_lo=12, heavy_hi=30, days=4, zipf=1.1,
                              k_max=8, f_max=30),
        "stream_ckpt": dict(users=100, items=80, light_mean=6, heavy_share=0.2,
                            heavy_lo=12, heavy_hi=30, days=3, zipf=1.1,
                            k_max=8, f_max=30),
        "maint_mixed": dict(users_per_batch=40, items=60, events_per_user=5,
                            max_distinct=8, span=2, batches=4, delete_every=2,
                            delete_share=0.3, zipf=1.05, warmup_batches=1,
                            compact_every=2),
    },
}


def _zipf_items(rng, n_items, exponent, size):
    """Item ids drawn from a Zipf law over a seeded permutation of ids."""
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -exponent
    p /= p.sum()
    ids = rng.permutation(n_items) + 1
    return ids[rng.choice(n_items, size=size, p=p)]


def _activity(rng, p):
    """Events per user: light users below kMax, a heavy share above it."""
    n = rng.poisson(p["light_mean"], size=p["users"]) + 1
    heavy = rng.random(p["users"]) < p["heavy_share"]
    n[heavy] = rng.integers(p["heavy_lo"], p["heavy_hi"] + 1, size=heavy.sum())
    return n


def _write_csv(path, users, items, ts):
    order = np.lexsort((items, users, ts))
    with open(path, "w") as f:
        for u, i, t in zip(users[order], items[order], ts[order]):
            f.write(f"{u},{i},{t}\n")


def _skew_props(items, users, p):
    _, item_counts = np.unique(items, return_counts=True)
    _, user_counts = np.unique(users, return_counts=True)
    top = np.sort(item_counts)[::-1]
    return {
        "events": int(len(items)),
        "zipf_exponent": p["zipf"],
        "top1pct_item_event_share": round(float(top[: max(1, len(top) // 100)].sum() / len(items)), 4),
        "items_over_fMax": int((item_counts > p["f_max"]).sum()),
        "heavy_user_share": round(float((user_counts > p["k_max"]).mean()), 4),
        "k_max": p["k_max"],
        "f_max": p["f_max"],
    }


def gen_batch(rng, p, out_dir):
    """One CSV over `days` day windows; both cuts bind."""
    n = _activity(rng, p)
    users = np.repeat(np.arange(1, p["users"] + 1), n)
    items = _zipf_items(rng, p["items"], p["zipf"], len(users))
    ts = EPOCH_MS + rng.integers(0, p["days"] * DAY_MS, size=len(users))
    os.makedirs(out_dir, exist_ok=True)
    _write_csv(os.path.join(out_dir, "part-00000.csv"), users, items, ts)
    props = _skew_props(items, users, p)
    props.update(windows=int(len(np.unique(ts // DAY_MS))), window_ms=DAY_MS)
    return props


def gen_stream(rng, p, out_dir):
    """One CSV per day: file b holds exactly window b's events, so one
    microbatch (maxFilesPerTrigger=1) is one day window. Users return
    across files because their events spread over all days."""
    n = _activity(rng, p)
    users = np.repeat(np.arange(1, p["users"] + 1), n)
    items = _zipf_items(rng, p["items"], p["zipf"], len(users))
    ts = EPOCH_MS + rng.integers(0, p["days"] * DAY_MS, size=len(users))
    day = (ts - EPOCH_MS) // DAY_MS
    os.makedirs(out_dir, exist_ok=True)
    seen = set()
    returning = []
    # the file monitor admits files in modification-time order: stamp
    # them one second apart in day order
    base = 1_700_000_000
    for d in range(p["days"]):
        m = day == d
        path = os.path.join(out_dir, f"day-{d:03d}.csv")
        _write_csv(path, users[m], items[m], ts[m])
        os.utime(path, (base + d, base + d))
        us = set(users[m].tolist())
        if d > 0 and us:
            returning.append(len(us & seen) / len(us))
        seen |= us
    props = _skew_props(items, users, p)
    props.update(batches=p["days"], window_ms=DAY_MS,
                 returning_user_share=round(float(np.mean(returning)), 4))
    return props


def _maint_batches(rng, p, n_batches, first_user):
    """Rows per batch for users that each span up to `span` consecutive
    batches, with at most `max_distinct` distinct items per user."""
    per_batch = [[] for _ in range(n_batches)]
    last_batch = {}
    u = first_user
    for b in range(n_batches):
        for _ in range(p["users_per_batch"] // p["span"] + 1):
            span = int(rng.integers(1, p["span"] + 1))
            distinct = _zipf_items(rng, p["items"], p["zipf"], p["max_distinct"])
            for bb in range(b, min(n_batches, b + span)):
                k = int(rng.integers(1, p["events_per_user"] + 1))
                its = rng.choice(distinct, size=k)
                ts = EPOCH_MS + bb * DAY_MS + rng.integers(0, DAY_MS, size=k)
                per_batch[bb].extend(zip([u] * k, its.tolist(), ts.tolist()))
                last_batch[u] = bb
            u += 1
    return per_batch, last_batch, u


def _maint_ops(rng, p, per_batch, last_batch, out_dir, prefix):
    """Ingest every batch; every `delete_every` batches delete a random
    `delete_share` of the users whose last batch has been ingested. A
    deleted user never appears again, so the expected matrix is
    coocCounts over the events of the users never deleted."""
    ops, deleted, user_events = [], set(), {}
    events = deleted_events = 0
    for b, rows in enumerate(per_batch):
        name = f"{prefix}-batch-{b:03d}.csv"
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("".join(f"{u},{i},{t}\n" for u, i, t in rows))
        ops.append(("ingest", name))
        events += len(rows)
        for r in rows:
            user_events[r[0]] = user_events.get(r[0], 0) + 1
        if (b + 1) % p["delete_every"] == 0:
            done = sorted(u for u, lb in last_batch.items() if lb <= b and u not in deleted)
            pick = [u for u in done if rng.random() < p["delete_share"]]
            if pick:
                name = f"{prefix}-delete-{b:03d}.csv"
                with open(os.path.join(out_dir, name), "w") as f:
                    f.write("".join(f"{u}\n" for u in pick))
                deleted.update(pick)
                deleted_events += sum(user_events[u] for u in pick)
                ops.append(("delete", name))
    users = [{r[0] for r in rows} for rows in per_batch]
    returning = [len(users[b] & users[b - 1]) / max(1, len(users[b]))
                 for b in range(1, len(users))]
    return ops, events, deleted_events, returning


def gen_maint(rng, p, out_dir):
    """The standing index's fixed operation sequence, plus a smaller
    warm-up sequence over other users that runs untimed on its own
    index."""
    os.makedirs(out_dir, exist_ok=True)
    warm, warm_last, nxt = _maint_batches(rng, p, p["warmup_batches"], 1)
    meas, meas_last, _ = _maint_batches(rng, p, p["batches"], nxt)
    warm_ops, _, _, _ = _maint_ops(rng, dict(p, delete_every=p["warmup_batches"]),
                                   warm, warm_last, out_dir, "warm")
    ops, events, deleted_events, returning = _maint_ops(rng, p, meas, meas_last,
                                                        out_dir, "meas")
    # one op per line: phase, op, file — read by the JVM harness
    with open(os.path.join(out_dir, "ops.tsv"), "w") as f:
        for phase, lst in (("warmup", warm_ops), ("measured", ops)):
            f.write("".join(f"{phase}\t{op}\t{name}\n" for op, name in lst))
    return {
        "events": events,
        "ingest_batches": p["batches"],
        "deletes": sum(1 for op, _ in ops if op == "delete"),
        "delete_event_share": round(deleted_events / max(1, events), 4),
        "returning_user_share": round(float(np.mean(returning)), 4),
        "max_distinct_items_per_user": p["max_distinct"],
        "compact_every": p["compact_every"],
        "zipf_exponent": p["zipf"],
    }


GENERATORS = {"batch_sampled": gen_batch, "stream_ckpt": gen_stream, "maint_mixed": gen_maint}


def generate(workload, seed, size, out_dir):
    """Write `workload`'s inputs for `seed` under out_dir; return
    (parameters, input properties)."""
    p = dict(SIZES[size][workload])
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    props = GENERATORS[workload](rng, p, out_dir)
    return p, props
