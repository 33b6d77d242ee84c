"""Seeded inputs of the benchmark's workloads.

olap runs a fixed set of the engine's registry entries
(graft.SparkEntry.queries) in orders drawn from the seed. txn runs a
statement stream generated here: the harness receives only these
statements and renders them with the engine's `sql` interpolator.
"""
import datetime
import os
import random

NAMES = ("olap", "txn")
HERE = os.path.dirname(os.path.abspath(__file__))

# The registry entries of one olap pass. At 4 cores a first, cold sweep of
# the 140 query-shaped entries takes about 77 s, more than a run may take,
# so olap runs a fixed set: four entries, so that a run fits five or more
# passes and each entry's median rests on as many samples; see README.md.
OLAP_PASS = [
    # joins and aggregation (the 6-way TPC-H q5 shape), window top-k
    "q5_local_supplier", "window_topk_per_key",
    # LLM-data operators: jaccard near-duplicates, duplicate clusters
    "near_dup_jaccard", "dedup_clusters",
]
# warm-up passes before the timed ones; the JIT keeps compiling for
# minutes after, which each entry's median over the passes absorbs
OLAP_WARMUP_PASSES = 3
PASS_ORDERS = 8

# Statement mix of one txn pass: about one write to four reads.
TXN_MIX = {"insert": 8, "point": 8, "typed": 8, "travel": 8, "snap": 2}
TXN_WARMUP_MIX = {"insert": 16, "point": 16, "typed": 16, "travel": 16, "snap": 4}

BASE_ORDERS = 15000       # o_orderkey 0..14999 in the orders input
CUSTOMERS = 1500          # o_custkey 0..1499
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY0 = datetime.date(1995, 1, 1)
DAYS = (datetime.date(2001, 8, 1) - DAY0).days


GOLDENS = os.path.join(HERE, "goldens", "olap.json")


def txn_stream(rng, mix, base_keys, first_new_key):
    """Statements in a seeded order with exactly `mix` of each kind.

    Snapshot 1 is the CTAS; each insert commits the next snapshot, so a
    time-travel read names a version in 1..1+inserts so far.
    """
    kinds = [k for k, n in mix.items() for _ in range(n)]
    rng.shuffle(kinds)
    inserted = []
    out = []
    for kind in kinds:
        if kind == "insert":
            rows = []
            for _ in range(rng.randint(1, 50)):
                key = first_new_key + len(inserted)
                inserted.append(key)
                day = DAY0 + datetime.timedelta(days=rng.randrange(DAYS))
                rows.append([key, rng.randrange(CUSTOMERS), rng.choice(STATUSES),
                             round(rng.uniform(1000.0, 500000.0), 2),
                             day.isoformat() + "T00:00:00Z", rng.choice(PRIORITIES)])
            out.append({"k": "insert", "rows": rows})
        elif kind == "point":
            key = (rng.choice(inserted) if inserted and rng.random() < 0.5
                   else rng.randrange(base_keys))
            out.append({"k": "point", "key": key})
        elif kind == "typed":
            out.append({"k": "typed", "cust": rng.randrange(CUSTOMERS)})
        elif kind == "travel":
            commits = 1 + sum(1 for s in out if s["k"] == "insert")
            out.append({"k": "travel", "v": rng.randint(1, commits)})
        else:
            out.append({"k": "snap"})
    return out


def generate(workload, seed):
    """The harness input for one run."""
    if workload == "txn":
        return {
            "statements": txn_stream(random.Random(seed), TXN_MIX, BASE_ORDERS, 1_000_000),
            # the warm-up table holds the orders with o_orderkey < 200
            "warmup": txn_stream(random.Random(-1), TXN_WARMUP_MIX, 200, 2_000_000),
        }
    rng = random.Random(seed)
    passes = []
    for _ in range(PASS_ORDERS):
        names = list(OLAP_PASS)
        rng.shuffle(names)
        passes.append(names)
    # the warm-up drains every entry several times, in orders of its own
    warm = []
    for _ in range(OLAP_WARMUP_PASSES):
        names = list(OLAP_PASS)
        rng.shuffle(names)
        warm += names
    return {"passes": passes, "warmup": warm}
