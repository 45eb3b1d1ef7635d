"""Seeded op plans and the percentile rule of the lake benchmark.

A plan is a list of ops, one tab-separated line each: the op's kind,
then its arguments. Kinds, keys, prices and time-travel offsets come
only from the seed, so one seed always yields the same plan. A tag
gives another plan of the same shape from the same seed.

Kinds are dealt from fixed decks: every deck holds each kind a fixed
number of times, in a seeded order. Each run of a workload therefore
issues the same number of ops of every kind, whatever the seed, and
only the order and the arguments change.
"""

import datetime
import math
import random

ORDERS_FIRST_DATE = datetime.date(1992, 1, 1)
ORDERS_DATE_SPAN_DAYS = 2400

MEDALLION_DEVICES = 10
MEDALLION_GOLD_DEVICES = 3
MEDALLION_GOLD_READS = 5

# One deck of lake_oltp ops per table copy: 60% reads, 40% writes.
# Point reads are two thirds of the reads, so the read median falls
# inside their cluster rather than on the edge between two kinds.
OLTP_DECK = (["point"] * 4 + ["range", "asof"] +
             ["append", "update", "delete", "merge"])
OLTP_READS = ("point", "range", "asof")
OLTP_ROWS = 20
OLTP_ASOF_BACK = 20
OLTP_PRICE_CENTS = (90000, 45090000)

SCAN_QUERIES = ("partition_filter", "minmax_filter", "shuffle_agg", "join",
                "count_star", "asof_prev")
SCAN_ORDERS_PER_REPLICA = 150000
# Distinct arguments per query kind: each distinct query is checked
# against the source parquet once, so a small pool bounds that cost.
SCAN_POOL = 2
SCAN_MINMAX_WIDTH = 2000


def _rng(workload, seed, tag):
    return random.Random(f"{workload}:{seed}:{tag}")


def _line(kind, *args):
    return "\t".join([kind] + [str(a) for a in args])


def medallion(seed, ops, tag=""):
    """One batch per op; the arguments are the devices of its two
    per-device gold reads."""
    rng = _rng("medallion", seed, tag)

    def devices():
        return ",".join(str(d) for d in sorted(
            rng.sample(range(1, MEDALLION_DEVICES + 1), MEDALLION_GOLD_DEVICES)))

    return [_line("batch", devices(), devices()) for _ in range(ops)]


class _Keys:
    """The live order keys of one table copy, as the plan changes them."""

    def __init__(self, orders):
        self.live = list(range(1, orders + 1))
        self.index = {k: i for i, k in enumerate(self.live)}
        self.next_new = orders + 1

    def pick(self, rng, n):
        return rng.sample(self.live, n) if n > 1 else [rng.choice(self.live)]

    def new(self, n):
        keys = list(range(self.next_new, self.next_new + n))
        self.next_new += n
        for k in keys:
            self.index[k] = len(self.live)
            self.live.append(k)
        return keys

    def remove(self, k):
        i = self.index.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.index[last] = i


def lake_oltp(seed, ops, orders, tag=""):
    """Ops alternate between copy 0 (copy-on-write) and copy 1 (deletion
    vectors); each copy draws its kinds from its own decks."""
    rng = _rng("lake_oltp", seed, tag)
    keys = [_Keys(orders), _Keys(orders)]
    decks = [[], []]

    def cents():
        return rng.randrange(*OLTP_PRICE_CENTS)

    def priced(ks):
        return ",".join(f"{k}:{cents()}" for k in ks)

    plan = []
    for i in range(ops):
        c = i % 2
        if not decks[c]:
            decks[c] = rng.sample(OLTP_DECK, len(OLTP_DECK))
        kind = decks[c].pop()
        live = keys[c]
        if kind == "point":
            plan.append(_line(kind, c, live.pick(rng, 1)[0]))
        elif kind == "range":
            day = ORDERS_FIRST_DATE + datetime.timedelta(
                days=rng.randrange(ORDERS_DATE_SPAN_DAYS))
            plan.append(_line(kind, c, day.year, day.month))
        elif kind == "asof":
            plan.append(_line(kind, c, rng.randrange(OLTP_ASOF_BACK)))
        elif kind == "append":
            plan.append(_line(kind, c, priced(live.new(OLTP_ROWS))))
        elif kind == "update":
            plan.append(_line(kind, c, priced(live.pick(rng, 1))))
        elif kind == "delete":
            k = live.pick(rng, 1)[0]
            live.remove(k)
            plan.append(_line(kind, c, k))
        else:  # merge: half existing keys, half new ones
            old = live.pick(rng, OLTP_ROWS // 2)
            plan.append(_line(kind, c, priced(
                old + live.new(OLTP_ROWS - OLTP_ROWS // 2))))
    return plan


def lake_scan(seed, ops, replicas, tag=""):
    """Each round runs every query kind once, in a seeded order, with
    arguments drawn from a small seeded pool per kind."""
    rng = _rng("lake_scan", seed, tag)
    max_key = replicas * SCAN_ORDERS_PER_REPLICA

    def year():
        return rng.randrange(1992, 1999)

    def minmax():
        lo = rng.randrange(1, max_key - SCAN_MINMAX_WIDTH)
        return (lo, lo + SCAN_MINMAX_WIDTH)

    def month():
        return (rng.randrange(1992, 1998), rng.randrange(1, 13))

    draw = {
        "partition_filter": lambda: (year(),),
        "minmax_filter": minmax,
        "shuffle_agg": lambda: (rng.randrange(365, ORDERS_DATE_SPAN_DAYS),),
        "join": month,
        "count_star": lambda: (),
        "asof_prev": lambda: (year(),),
    }
    pools = {q: [draw[q]() for _ in range(SCAN_POOL)] for q in SCAN_QUERIES}
    plan = []
    while len(plan) < ops:
        for q in rng.sample(SCAN_QUERIES, len(SCAN_QUERIES)):
            plan.append(_line(q, *rng.choice(pools[q])))
    return plan[:ops]


def reads_per_op(workload, kind):
    """How many reads an op of `kind` makes."""
    if workload == "medallion":
        return MEDALLION_GOLD_READS
    if workload == "lake_oltp":
        return 1 if kind in OLTP_READS else 0
    return 1


def percentile(samples, p):
    """Nearest-rank p-th percentile (0 < p < 1) of `samples`, or None
    unless at least ten samples lie beyond it."""
    n = len(samples)
    rank = math.ceil(p * n)
    if n - rank < 10:
        return None
    return sorted(samples)[rank - 1]
