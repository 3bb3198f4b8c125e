"""The three workloads. Each is one closed loop with one client: the next
operation starts only when the previous one has returned and its answer
has been checked. Every input comes from a generator seeded by ``--seed``;
the table sees only the generated rows.

A workload function gets a :class:`harness.Context`. It reports the Arrow
bytes of every batch it generates to ``ctx.generated``, times its set-up
steps with ``ctx.setup_step``, and runs every operation through
``ctx.ops``, which times and checks it. See README.md for why each
workload exists.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

KEY_WIDTH = 10


def key_str(i: int) -> str:
    return f"{int(i):0{KEY_WIDTH}d}"


def key_array(ints) -> pa.Array:
    return pc.utf8_lpad(pc.cast(pa.array(ints, pa.int64()), pa.string()),
                        KEY_WIDTH, "0")


def split_points(leaves: int, keyspace: int) -> list[str]:
    return [key_str(keyspace * i // leaves) for i in range(1, leaves)]


def referenced_rows(table) -> int:
    return sum(r.number_of_rows for r in table.store.all_references())


def files_per_leaf(table) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in table.store.all_references():
        out[r.partition_id] = out.get(r.partition_id, 0) + 1
    return out


def compact_op(ctx, table, kind: str, expected_rows: int) -> None:
    """Run ``compact()`` as one operation. The rows it merged come from the
    references before and after (``all_references``): the references that
    disappeared are the compaction inputs."""
    before = {r.filename: r.number_of_rows
              for r in table.store.all_references()}
    merged = {}

    def check(out):
        after = {r.filename for r in table.store.all_references()}
        merged["rows"] = sum(n for f, n in before.items() if f not in after)
        # every leaf ends with one file: at most 11 files per leaf (one
        # compaction batch) are ever pending here
        return (referenced_rows(table) == expected_rows
                and set(files_per_leaf(table).values()) == {1}
                and sum(r.number_of_rows for r in out) <= merged["rows"])

    ctx.ops.run(kind, table.compact, check, units=lambda out: merged["rows"])


# ---------------------------------------------------------------------------
# ingest_compact: the write path
# ---------------------------------------------------------------------------

IC_LEAVES = 16
IC_KEYSPACE = 10**9
IC_BATCH_ROWS = 25_000
IC_SETUP_BATCHES = 3
IC_INGESTS_PER_COMPACT = 4


def _ic_schema():
    from pyspark.sql import types as T

    from sleeper_spark import Field, Schema
    # the reference's SystemTestSchema shape: string row key, long sort
    # key, string payload
    return Schema((Field("key", T.StringType()),),
                  (Field("ts", T.LongType()),),
                  (Field("payload", T.StringType(), True),))


def _ic_batch(rng, n: int) -> pa.Table:
    ints = rng.integers(0, IC_KEYSPACE, n)
    ts = rng.integers(0, 1 << 40, n)
    keys = key_array(ints)
    return pa.table({
        "key": keys,
        "ts": pa.array(ts, pa.int64()),
        "payload": pc.binary_join_element_wise(
            keys, pc.cast(pa.array(ts, pa.int64()), pa.string()), "-"),
    })


def ingest_compact(ctx):
    """Seeded batches into a 16-leaf table with no aggregation;
    ``compact()`` after every 4 ``ingest()`` calls. No query planning."""
    from sleeper_spark import SleeperTable, TableProperties

    rng = ctx.rng("ingest_compact")
    state = {"rows": 0}
    table = None

    def ingest(kind: str):
        batch = _ic_batch(rng, IC_BATCH_ROWS)
        ctx.generated(batch.nbytes)
        df = ctx.spark.createDataFrame(batch)
        state["rows"] += batch.num_rows
        expect = state["rows"]
        ctx.ops.run(
            kind, lambda: table.ingest(df),
            check=lambda refs: (
                sum(r.number_of_rows for r in refs) == batch.num_rows
                and referenced_rows(table) == expect),
            units=lambda refs: batch.num_rows)

    for _ in range(IC_SETUP_BATCHES):
        with ctx.setup_step():
            if table is None:
                table = SleeperTable.create(
                    ctx.spark, ctx.table_dir("ingest_compact"), _ic_schema(),
                    TableProperties(), split_points(IC_LEAVES, IC_KEYSPACE))
            ingest("setup_ingest")
    # warm-up: the first compaction of a process pays one-time costs
    compact_op(ctx, table, "warmup_compact", state["rows"])

    ctx.start_timed(table)
    while not ctx.time_is_up():
        for _ in range(IC_INGESTS_PER_COMPACT):
            ingest("ingest")
        compact_op(ctx, table, "compact", state["rows"])
    ctx.stop_timed()

    ctx.ops.run("verify_scan", lambda: table.full_scan().count(),
                check=lambda n: n == state["rows"])


# ---------------------------------------------------------------------------
# point_lookup: the headline read pattern, many leaves, many runs
# ---------------------------------------------------------------------------

PL_LEAVES = 32
PL_RUNS = 3
PL_ROWS_PER_RUN = 20_000
PL_KEYSPACE = 10**9          # present keys even, absent keys odd
PL_POINTS_PER_CYCLE = 8      # 6 present, 2 absent (README.md)
PL_BATCH_KEYS = 64           # half present, half absent
PL_SORTED_SHARE = 100        # a sorted_rows window covers 1/100


def point_lookup(ctx):
    """Set-up builds a 32-leaf table with 3 uncompacted runs (96 files,
    one run per set-up step); the timed loop runs exact-key lookups on
    seeded keys, three quarters present, one batched lookup of 64 keys,
    half present, and one ``sorted_rows`` pass over 1% of the key space
    per cycle. No ingest or compaction in the timed part."""
    from sleeper_spark import Query, Range, Region, SleeperTable, \
        TableProperties

    rng = ctx.rng("point_lookup")
    n_total = PL_RUNS * PL_ROWS_PER_RUN
    present = rng.choice(PL_KEYSPACE // 2, n_total, replace=False) * 2
    ts = rng.integers(0, 1 << 40, n_total)
    rows = {int(k): int(t) for k, t in zip(present, ts)}
    present_sorted = np.sort(present)
    table = None
    for run in range(PL_RUNS):
        sl = slice(run * PL_ROWS_PER_RUN, (run + 1) * PL_ROWS_PER_RUN)
        keys = key_array(present[sl])
        batch = pa.table({
            "key": keys, "ts": pa.array(ts[sl], pa.int64()),
            "payload": pc.binary_join_element_wise(
                keys, pc.cast(pa.array(ts[sl], pa.int64()), pa.string()),
                "-")})
        ctx.generated(batch.nbytes)
        with ctx.setup_step():
            if table is None:
                table = SleeperTable.create(
                    ctx.spark, ctx.table_dir("point_lookup"), _ic_schema(),
                    TableProperties(), split_points(PL_LEAVES, PL_KEYSPACE))
            df = ctx.spark.createDataFrame(batch)
            ctx.ops.run("setup_ingest", lambda: table.ingest(df),
                        check=lambda refs: len(refs) == PL_LEAVES)

    def expected(k: int):
        t = rows.get(k)
        return [] if t is None else [(key_str(k), t, f"{key_str(k)}-{t}")]

    def pick(n: int, n_hits: int) -> list[int]:
        hits = rng.choice(present, n_hits).tolist()
        misses = (rng.integers(0, PL_KEYSPACE // 2, n - n_hits) * 2 + 1
                  ).tolist()
        keys = hits + misses
        rng.shuffle(keys)
        return keys

    def point(kind: str, k: int):
        ks = key_str(k)
        ctx.ops.run(
            kind, lambda: ctx.action(table.exact_key_query(key=ks)),
            check=lambda got: sorted(tuple(r) for r in got) == expected(k),
            units=lambda got: 1)
        ctx.explain(table, Query([Region.exact(table.schema, key=ks)]),
                    lambda: len(expected(k)))

    def batch(kind: str, ks: list[int]):
        # a key requested twice is returned once
        want = sorted(r for k in set(ks) for r in expected(k))
        ctx.ops.run(
            kind,
            lambda: ctx.action(table.batch_exact_key_query(
                [{"key": key_str(k)} for k in ks])),
            check=lambda got: sorted(tuple(r) for r in got) == want,
            units=lambda got: len(ks))

    def sorted_pass(kind: str):
        width = PL_KEYSPACE // PL_SORTED_SHARE
        lo = int(rng.integers(0, PL_KEYSPACE - width))
        hi = lo + width
        inside = present_sorted[np.searchsorted(present_sorted, lo):
                                np.searchsorted(present_sorted, hi)]
        want = [row for k in inside.tolist() for row in expected(k)]
        q = Query([Region.of(Range("key", key_str(lo), key_str(hi)))])
        ctx.ops.run(
            kind, lambda: list(table.sorted_rows(q)),
            check=lambda got: [(r["key"], r["ts"], r["payload"])
                               for r in got] == want,
            units=lambda got: len(got))

    def cycle(prefix: str):
        for k in pick(PL_POINTS_PER_CYCLE, PL_POINTS_PER_CYCLE * 3 // 4):
            point(prefix + "point", k)
        batch(prefix + "batch_point", pick(PL_BATCH_KEYS, PL_BATCH_KEYS // 2))
        sorted_pass(prefix + "sorted_rows")

    # warm-up: the first lookups of a process pay one-time costs, and the
    # next round of them is still slower than the rest
    cycle("warmup_")

    ctx.start_timed(table)
    while not ctx.time_is_up():
        cycle("")
    ctx.stop_timed()


# ---------------------------------------------------------------------------
# mixed_rw: writes beside reads on an aggregating table
# ---------------------------------------------------------------------------

MX_LEAVES = 16
MX_UNIVERSE = 200_000        # key ints [0, U); absent probes use ints >= U
MX_BATCH_ROWS = 5_000        # distinct keys within a batch, repeats across
MX_SETUP_BATCHES = 3
MX_BATCHES_PER_COMPACT = 4
MX_RANGE_SHARE = 100         # a range covers 1/100 of the key space
MX_TAGS = [f"t{i}" for i in range(8)]


def _mx_schema():
    from pyspark.sql import types as T

    from sleeper_spark import Field, Schema
    return Schema((Field("key", T.StringType()),), (),
                  (Field("n", T.LongType()),
                   Field("tags", T.MapType(T.StringType(), T.LongType()))))


def mixed_rw(ctx):
    """A 16-leaf table aggregating ``sum(n), map_sum(tags)`` with keys
    repeated across batches. Each cycle ingests one small batch, runs
    point lookups favouring the newest keys and one range query over 1%
    of the key space (rows materialised); every 4 batches it runs
    ``compact()``.

    There is no ``sorted_rows`` pass here (``point_lookup`` has one): on
    this table ``sorted_rows`` raises ``AttributeError: 'list' object has
    no attribute 'items'`` whenever a key in the window has rows in more
    than one file. ``query._merge_scalar`` expects a dict for ``map_sum``
    and gets pyarrow's list of pairs. A workload must run without failed
    operations, so the pass comes back once the package is fixed."""
    from sleeper_spark import Query, Range, Region, SleeperTable, \
        TableProperties

    rng = ctx.rng("mixed_rw")
    n_sum = np.zeros(MX_UNIVERSE, np.int64)
    tag_sum = np.zeros((MX_UNIVERSE, len(MX_TAGS)), np.int64)
    state = {"referenced": 0, "last": np.zeros(0, np.int64)}
    table = None

    def make_batch():
        ints = np.sort(rng.choice(MX_UNIVERSE, MX_BATCH_ROWS, replace=False))
        n = rng.integers(1, 10, MX_BATCH_ROWS)
        # one or two tags per row, distinct within the row
        t1 = rng.integers(0, len(MX_TAGS), MX_BATCH_ROWS)
        two = rng.random(MX_BATCH_ROWS) < 0.5
        t2 = (t1 + rng.integers(1, len(MX_TAGS), MX_BATCH_ROWS)) % len(MX_TAGS)
        c1 = rng.integers(1, 5, MX_BATCH_ROWS)
        c2 = rng.integers(1, 5, MX_BATCH_ROWS)
        offsets = np.concatenate([[0], np.cumsum(1 + two)]).astype(np.int32)
        tag_idx = np.empty(offsets[-1], np.int64)
        counts = np.empty(offsets[-1], np.int64)
        tag_idx[offsets[:-1]] = t1
        counts[offsets[:-1]] = c1
        tag_idx[offsets[:-1][two] + 1] = t2[two]
        counts[offsets[:-1][two] + 1] = c2[two]
        tags = pa.MapArray.from_arrays(
            pa.array(offsets), pa.array(np.array(MX_TAGS)[tag_idx]),
            pa.array(counts, pa.int64()))
        batch = pa.table({"key": key_array(ints),
                          "n": pa.array(n, pa.int64()), "tags": tags})
        return batch, ints, n, (t1, c1), (t2[two], c2[two], ints[two])

    def ingest(kind: str):
        batch, ints, n, (t1, c1), (t2, c2, i2) = make_batch()
        ctx.generated(batch.nbytes)
        df = ctx.spark.createDataFrame(batch)
        n_sum[ints] += n
        tag_sum[ints, t1] += c1
        tag_sum[i2, t2] += c2
        state["last"] = ints
        # ingest does not aggregate: the table holds one more row per
        # batch row until compaction merges equal keys
        state["referenced"] += MX_BATCH_ROWS
        expect = state["referenced"]
        ctx.ops.run(kind, lambda: table.ingest(df),
                    check=lambda refs: (
                        sum(r.number_of_rows for r in refs) == MX_BATCH_ROWS
                        and referenced_rows(table) == expect),
                    units=lambda refs: MX_BATCH_ROWS)

    def expected_row(i: int):
        if i >= MX_UNIVERSE or n_sum[i] == 0:
            return []
        tags = {MX_TAGS[j]: int(c) for j, c in enumerate(tag_sum[i]) if c}
        return [(key_str(i), int(n_sum[i]), tags)]

    def point(kind: str, i: int):
        ks = key_str(i)
        want = expected_row(i)
        ctx.ops.run(
            kind, lambda: ctx.action(table.exact_key_query(key=ks)),
            check=lambda got: [(r["key"], r["n"], dict(r["tags"]))
                               for r in got] == want,
            units=lambda got: 1)
        ctx.explain(table, Query([Region.exact(table.schema, key=ks)]),
                    lambda: len(want))

    def window(share: int) -> tuple[int, int]:
        width = MX_UNIVERSE // share
        lo = int(rng.integers(0, MX_UNIVERSE - width))
        return lo, lo + width

    def range_query(kind: str):
        lo, hi = window(MX_RANGE_SHARE)
        want_rows = int(np.count_nonzero(n_sum[lo:hi]))
        want_n = int(n_sum[lo:hi].sum())
        ctx.ops.run(
            kind,
            lambda: ctx.action(table.range_key_query(
                [("key", key_str(lo), key_str(hi))])),
            check=lambda got: (len(got) == want_rows
                               and len({r["key"] for r in got}) == want_rows
                               and sum(r["n"] for r in got) == want_n),
            units=lambda got: len(got))
        ctx.explain(table, Query([Region.of(
            Range("key", key_str(lo), key_str(hi)))]), lambda: want_rows)

    def points(kind: str):
        """2 keys of the newest batch, then an older key or an absent one
        at even odds."""
        picks = rng.choice(state["last"], 2).tolist()
        if rng.random() < 0.5:
            picks += rng.choice(np.flatnonzero(n_sum), 1).tolist()
        else:
            picks.append(int(rng.integers(MX_UNIVERSE, 2 * MX_UNIVERSE)))
        for i in picks:
            point(kind, int(i))

    def compact(kind: str):
        state["referenced"] = int(np.count_nonzero(n_sum))
        compact_op(ctx, table, kind, state["referenced"])

    for _ in range(MX_SETUP_BATCHES):
        with ctx.setup_step():
            if table is None:
                table = SleeperTable.create(
                    ctx.spark, ctx.table_dir("mixed_rw"), _mx_schema(),
                    TableProperties(aggregations="sum(n), map_sum(tags)"),
                    split_points(MX_LEAVES, MX_UNIVERSE))
            ingest("setup_ingest")

    # warm-up: one untimed cycle and a compaction. The first read of each
    # kind and the first compaction of a process pay one-time costs, and
    # the next few reads are still slower than the rest
    ingest("warmup_ingest")
    points("warmup_point")
    range_query("warmup_range")
    compact("warmup_compact")

    ctx.start_timed(table)
    while not ctx.time_is_up():
        for _ in range(MX_BATCHES_PER_COMPACT):
            ingest("ingest")
            points("point")
            range_query("range")
        compact("compact")
    ctx.stop_timed()


WORKLOADS = {
    "ingest_compact": ingest_compact,
    "point_lookup": point_lookup,
    "mixed_rw": mixed_rw,
}

#: operation kinds of each timed loop (set-up, warm-up and verification
#: operations are checked but not timed into the metrics)
TIMED_KINDS = ("ingest", "compact", "point", "batch_point", "range",
               "sorted_rows")


def table_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
