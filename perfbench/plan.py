"""Seeded op plans: what each workload runs, in which order.

A plan is a pure function of (workload, seed). The JVM driver receives
only the plan and the generated tables.
"""
import random

# Registry query -> the layer (module) whose code it runs. A subset of
# each layer's benched queries: see NOTES.md for why the mix is this size.
ANALYTICS_MIX = {
    "q1_pricing_summary": "ops", "q3_shipping_priority": "ops",
    "q5_local_supplier_volume": "ops", "q18_large_volume": "ops",
    "ext_text_bm25": "ext",
    "ext_asof_exec": "plans",
    "ext_stream_sessions": "streaming",
}
# one StreamIngest run, its read-back and a small-file compaction: one
# unit of a pass
INGEST = "ingest"
# Units that run twice in a pass (the others run once). With 3 passes
# (36 ops) the median then falls in the middle of the 9 samples of q1 and
# `compactSmall`, and the tail (the 11th-slowest op) in the middle of the
# 9 samples of bm25 and q5, instead of on the boundary between two op
# types of different cost.
TWICE = ("q1_pricing_summary", "ext_text_bm25")

PORTAL_OPS = ["createUser", "authenticateUser", "listEvents",
              "registerAndPay", "recordPayment", "getUserRegistrations",
              "eventStats"]

FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances",
         "John", "Margaret", "Ken", "Radia", "Niklaus"]
LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth",
        "Allen", "Backus", "Hamilton", "Thompson", "Perlman", "Wirth"]
PLACES = ["Hall", "Park", "Arena", "Gallery", "Harbour", "Library"]
KINDS = ["Music", "Expo", "Talk", "Sport", "Film"]


def analytics(seed, passes=3, event_rows=10000):
    """One untimed warm-up pass over the units, then `passes` timed ones
    (the units and `TWICE` again), each in its own seeded order."""
    rng = random.Random(f"analytics/{seed}")
    units = sorted(ANALYTICS_MIX) + [INGEST]
    timed = units + list(TWICE)
    return {"layers": dict(ANALYTICS_MIX), "event_rows": event_rows,
            "warmup": rng.sample(units, len(units)),
            "passes": [rng.sample(timed, len(timed)) for _ in range(passes)]}


def portal(seed, sessions=7, clients=1, events=20):
    """Two untimed warm-up sessions, then `sessions` timed ones. Timed
    sessions alternate free and paid events (chosen by the seed), and
    every fifth runs the admin dashboard, so every seed runs the same op
    mix."""
    rng = random.Random(f"portal/{seed}")

    def person(i, tag):
        return {"first": rng.choice(FIRST), "last": rng.choice(LAST),
                "phone": "".join(rng.choice("0123456789") for _ in range(10)),
                "email": f"{tag}{i}.s{seed}@example.com",
                "password": f"pw-{rng.getrandbits(32):08x}"}

    evs = [{"name": f"{rng.choice(KINDS)} night {i}",
            "description": f"event {i}",
            "date": f"2026-{1 + i % 12:02d}-{1 + rng.randrange(28):02d} "
                    f"{rng.randrange(8, 22):02d}:00:00",
            "time_sec": rng.randrange(28800, 79200, 900),
            "location": rng.choice(PLACES), "type": rng.choice(KINDS),
            # half the events are free: those pay inside registerAndPay
            "price": "0.00" if i % 2 == 0 else f"{rng.randrange(5, 120)}.00",
            "capacity": rng.randrange(50, 500)} for i in range(events)]
    # warm-up: a session on a free event (registerAndPay pays inside)
    # with the admin dashboard, then one on a paid event, so every timed
    # Portal method has run before the window
    warm = [dict(person(i, "warmup"), event=i, stats=i == 0)
            for i in range(2)]
    return {"clients": clients, "organizer": person(0, "organizer"),
            "events": evs, "warmup": warm,
            "sessions": [dict(person(i, "user"),
                              event=2 * rng.randrange(events // 2) + i % 2,
                              stats=i % 5 == 4) for i in range(sessions)]}


PLANS = {"analytics": analytics, "portal": portal}


def make(workload, seed, **kw):
    return PLANS[workload](seed, **kw)
