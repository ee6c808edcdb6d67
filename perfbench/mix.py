"""Workload definitions and the seeded mix.

`workloads.json` gives each workload the artifacts it builds and its
strata: lists of queries ordered by a reference cold cost, each cut into
`ceil(len / band)` bands of near-equal size. One query is drawn from
every band, so the sample holds the same number of queries from each
registry module and from each cost band. A stratum with `band` 1 runs
whole.

The draw is frozen: it does not depend on the run's seed. Queries differ
so much in warm latency that a sample redrawn per seed moved the warm
median by 15 to 35 % from seed to seed. The seed fixes the cold-pass
order and the order of every warm round, and with them which query pays
each shared first touch. The program receives only the resolved lists.
"""

import hashlib
import json
import math
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
WARM_ROUNDS = 200


def load_spec(path=None):
    with open(path or os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def bands(queries, band):
    """Cut `queries` into ceil(len / band) consecutive bands of near-equal size."""
    k = math.ceil(len(queries) / band)
    return [queries[i * len(queries) // k:(i + 1) * len(queries) // k] for i in range(k)]


def resolve(spec, name, seed):
    """The workload's artifacts, cold order and warm rounds for a seed."""
    w = spec["workloads"][name]
    pick = random.Random(name + ":sample")
    cold = [pick.choice(b) for s in w["strata"] for b in bands(s["queries"], s["band"])]
    rng = random.Random("%s:%d" % (name, seed))
    rng.shuffle(cold)
    rounds = []
    for _ in range(WARM_ROUNDS):
        r = list(cold)
        rng.shuffle(r)
        rounds.append(r)
    return {"workload": name, "seed": seed, "artifacts": list(w["artifacts"]),
            "cold": cold, "rounds": rounds}


def mix_digest(mix):
    """A short fingerprint of everything the program is asked to run."""
    body = json.dumps([mix["artifacts"], mix["cold"], mix["rounds"]])
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def load_expected(path=None):
    """Expected row count per query (the DuckDB oracle's `oracle_rows`)."""
    with open(path or os.path.join(HERE, "expected_rows.json")) as f:
        rows = json.load(f)["rows"]
    bad = [q for q, n in rows.items() if type(n) is not int or n < 0]
    if bad:
        raise ValueError("expected_rows.json: not a row count: %s" % ", ".join(sorted(bad)))
    return rows
