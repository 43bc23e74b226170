"""Dampr-compatibility tests: each test mirrors a scenario from the
reference suite (/root/reference/tests/test_dampr.py, cited per test) with
the same fixtures and hand-computed expected values."""

from __future__ import annotations

import heapq
import json

import pytest

from dampr_spark.api import BlockMapper, BlockReducer, Dampr, Mapper, filter_by_count


@pytest.fixture(scope="module", autouse=True)
def _bind_session(spark):
    Dampr.use_session(spark)


@pytest.fixture
def items():
    # Canonical fixture: list(range(10, 20)), 2 partitions (test_dampr.py:19-21)
    return Dampr.memory(list(range(10, 20)), partitions=2)


def test_identity(items):
    # test_dampr.py:23-29
    assert sorted(items.run()) == list(range(10, 20))


def test_map(items):
    assert sorted(items.map(lambda x: x + 1).run()) == list(range(11, 21))


def test_filter(items):
    # test_dampr.py:63-69
    assert sorted(items.filter(lambda x: x % 2 == 0).run()) == [10, 12, 14, 16, 18]


def test_flat_map(items):
    assert sorted(items.flat_map(lambda x: [x, x]).run()) == sorted(
        list(range(10, 20)) * 2
    )


def test_group_by_reduce_sum(items):
    # test_dampr.py:31-61: group by parity, sum each group, key-ordered output
    res = items.group_by(lambda x: x % 2).reduce(lambda k, vs: sum(vs)).run().read()
    assert res == [(0, 70), (1, 75)]


def test_a_group_by_sum(items):
    # test_dampr.py:108-116: associative reduce
    res = items.a_group_by(lambda x: x % 2).sum().run().read()
    assert res == [(0, 70), (1, 75)]


def test_fold_by(items):
    # test_dampr.py:161-168
    res = items.fold_by(lambda x: x % 2, lambda l, r: l + r).run().read()
    assert res == [(0, 70), (1, 75)]


def test_sort_by(items):
    # test_dampr.py:71-73: globally key-sorted values
    res = items.sort_by(lambda x: -x).run().read()
    assert res == list(range(19, 9, -1))


def test_inner_join(items):
    # test_dampr.py:75-86: join matching parity groups
    other = Dampr.memory(list(range(10)), partitions=2)
    res = (
        items.group_by(lambda x: x % 2)
        .join(other.group_by(lambda x: x % 2))
        .reduce(lambda l, r: (sorted(l), sorted(r)))
        .run()
        .read()
    )
    assert res == [
        (0, ([10, 12, 14, 16, 18], [0, 2, 4, 6, 8])),
        (1, ([11, 13, 15, 17, 19], [1, 3, 5, 7, 9])),
    ]


def test_join_disjoint_empty(items):
    # test_dampr.py:87-106: disjoint key sets → empty result
    other = Dampr.memory(list(range(100, 110)))
    res = (
        items.group_by(lambda x: x)
        .join(other.group_by(lambda x: x))
        .reduce(lambda l, r: (list(l), list(r)))
        .run()
        .read()
    )
    assert res == []


def test_left_join_as_anti_join(items):
    # test_dampr.py:118-130: left join, empty right = anti-join filter
    evens = items.filter(lambda x: x % 2 == 0)
    res = (
        items.group_by(lambda x: x)
        .join(evens.group_by(lambda x: x))
        .left_reduce(lambda l, r: (list(l), list(r)))
        .run()
        .read()
    )
    anti = [k for k, (l, r) in res if not r]
    assert anti == [11, 13, 15, 17, 19]


def test_join_many_flattening(items):
    # test_dampr.py:140-159: many=True flattens an iterator result
    other = Dampr.memory(list(range(10, 20)))
    res = (
        items.group_by(lambda x: x % 2)
        .join(other.group_by(lambda x: x % 2))
        .reduce(lambda l, r: iter(sorted(l)), many=True)
        .run()
        .read()
    )
    assert res == [(0, v) for v in [10, 12, 14, 16, 18]] + [
        (1, v) for v in [11, 13, 15, 17, 19]
    ]


def test_outer_reduce():
    # Full outer join (fixed vs reference's dead OuterJoin, dampr/base.py:337-371)
    a = Dampr.memory([1, 2, 3])
    b = Dampr.memory([2, 3, 4])
    res = (
        a.group_by(lambda x: x)
        .join(b.group_by(lambda x: x))
        .outer_reduce(lambda l, r: (list(l), list(r)))
        .run()
        .read()
    )
    assert res == [(1, ([1], [])), (2, ([2], [2])), (3, ([3], [3])), (4, ([], [4]))]


def test_empty_input():
    # test_dampr.py:170-181
    empty = Dampr.memory([])
    assert empty.map(lambda x: x).run().read() == []
    assert empty.group_by(lambda x: x).reduce(lambda k, vs: sum(vs)).run().read() == []


def test_len(items):
    # test_dampr.py:332-338 incl. empty
    assert items.len().run().read() == [10]
    assert Dampr.memory([]).len().run().read() == [0]


def test_count(items):
    res = items.count(lambda x: x % 2).run().read()
    assert res == [(0, 5), (1, 5)]


def test_mean(items):
    res = items.mean(lambda x: x % 2).run().read()
    assert res == [(0, 14.0), (1, 15.0)]


def test_unique():
    # dampr/dampr.py:727-746 docstring semantics: first-seen distinct per group
    kv = Dampr.memory([("a", 1), ("a", 1), ("a", 2), ("b", 3)])
    res = (
        kv.group_by(lambda t: t[0], lambda t: t[1])
        .unique(lambda v: v)
        .run()
        .read()
    )
    assert res == [("a", [1, 2]), ("b", [3])]


def test_topk():
    # test_dampr.py:403-413: top-k characters by count
    word = Dampr.memory(["supercalifragilisticexpialidociousa"])
    counts = word.flat_map(list).count()
    res = sorted(counts.topk(2, key=lambda kc: kc[1]).run().read())
    assert res == [("a", 4), ("i", 7)]


def test_tuple_field_maps():
    # test_dampr.py:475-527: map_values/map_keys/prefix/suffix
    items = Dampr.memory(list(range(10, 20)))
    pairs = items.prefix(lambda x: x % 2)  # v -> (parity, v)
    assert sorted(pairs.run())[:2] == [(0, 10), (0, 12)]
    assert sorted(pairs.map_keys(lambda k: k * 10).run())[:2] == [(0, 10), (0, 12)]
    assert sorted(pairs.map_values(lambda v: v + 1).run())[:2] == [(0, 11), (0, 13)]
    suff = items.suffix(lambda x: x + 1)
    assert sorted(suff.run()) == list(zip(range(10, 20), range(11, 21)))


def test_cross_left(items):
    # test_dampr.py:211-237: map-side cross product
    small = Dampr.memory([100])
    res = sorted(items.cross_left(small, lambda l, r: l + r).run())
    assert res == list(range(110, 120))
    res_mem = sorted(items.cross_left(small, lambda l, r: l + r, memory=True).run())
    assert res_mem == res


def test_cross_right(items):
    small = Dampr.memory([100])
    res = sorted(small.cross_right(items, lambda small_v, item: item - small_v).run())
    assert res == list(range(-90, -80))


def test_cross_set(items):
    # dampr/dampr.py:590-619: whole other side as a set
    evens = items.filter(lambda x: x % 2 == 0)
    res = sorted(items.cross_set(evens, lambda v, s: (v, v in s), agg=set).run())
    assert res == [(v, v % 2 == 0) for v in range(10, 20)]


def test_custom_blocks(spark):
    # test_dampr.py:239-281: BlockMapper/BlockReducer top-k
    class TopKMapper(BlockMapper):
        def __init__(self, k):
            self.k = k

        def start(self):
            self.heap = []

        def add(self, _k, lc):
            heapq.heappush(self.heap, (lc[1], lc[0]))
            if len(self.heap) > self.k:
                heapq.heappop(self.heap)
            return iter([])

        def finish(self):
            for cl in self.heap:
                yield 1, cl

    class TopKReducer(BlockReducer):
        def __init__(self, k):
            self.k = k

        def start(self):
            pass

        def add(self, k, it):
            for count, letter in heapq.nlargest(self.k, it):
                yield letter, (letter, count)

    word = Dampr.memory(["supercalifragilisticexpialidociousa"])
    letter_counts = word.flat_map(list).count()
    topk = letter_counts.custom_mapper(TopKMapper(2)).custom_reducer(TopKReducer(2))
    assert sorted(topk.run()) == [("a", 4), ("i", 7)]


def test_custom_mapper_multi_input(items):
    """Reference `Mapper.map(*datasets)` (dampr/base.py:10-12): the rawest
    extension point receives the main chunk plus supplemental datasets
    whole (dampr/stagerunner.py:70-74). Here: tag each main value with the
    sum and count of two side streams — every partition must see BOTH
    sides in full for the result to be uniform."""

    class TagWithSides(Mapper):
        def map(self, main, side_a, side_b):
            total = sum(v for _, v in side_a)
            n = sum(1 for _ in side_b)
            for k, v in main:
                yield k, (v, total, n)

    side_a = Dampr.memory([1, 2, 3], partitions=2)
    side_b = Dampr.memory(["x", "y"], partitions=2)
    res = sorted(items.custom_mapper(TagWithSides(), side_a, side_b).run())
    assert res == [(v, 6, 2) for v in range(10, 20)]


def test_custom_mapper_sides_deferred_and_guarded(items, monkeypatch):
    """Side-dataset collect/broadcast happens at first materialization, not
    at pipeline construction (the reference defers supplemental reads to run
    time too), and a side above DAMPR_SPARK_MAX_SIDE_MB raises a sized error
    instead of OOMing the driver."""
    import pytest

    class Tag(Mapper):
        def map(self, main, side):
            vals = [v for _, v in side]
            for k, v in main:
                yield k, (v, len(vals))

    side = Dampr.memory([1, 2, 3])
    pm = items.custom_mapper(Tag(), side)
    # construction ran no collect: the RDD thunk is still unforced
    assert callable(pm._rdd_or_thunk)
    assert sorted(pm.run()) == [(v, 3) for v in range(10, 20)]

    monkeypatch.setenv("DAMPR_SPARK_MAX_SIDE_MB", "0.000001")
    guarded = items.custom_mapper(Tag(), side)
    with pytest.raises(ValueError, match="broadcast guard"):
        guarded.run()


def test_custom_mapper_single_input_mapper_form(items):
    """A bare Mapper (no sides) mirrors the reference doctest
    `custom_mapper(Map(lambda k, x: [(k, x+1)]))` (dampr/dampr.py:166)."""

    class AddOne(Mapper):
        def map(self, main):
            for k, v in main:
                yield k, v + 1

    assert sorted(items.custom_mapper(AddOne).run()) == list(range(11, 21))


def test_custom_mapper_sides_require_mapper(items):
    with pytest.raises(TypeError):
        items.custom_mapper(BlockMapper(), items)


def test_stream_blocks():
    # test_dampr.py:283-311: partition_map / partition_reduce
    def map_topk(it):
        heap = []
        for symbol, count in it:
            heapq.heappush(heap, (count, symbol))
            if len(heap) > 2:
                heapq.heappop(heap)
        return ((1, x) for x in heap)

    def reduce_topk(it):
        counts = (v for _k, vit in it for v in vit)
        for count, symbol in heapq.nlargest(2, counts):
            yield symbol, count

    word = Dampr.memory(["supercalifragilisticexpialidociousa"])
    letter_counts = word.flat_map(list).count()
    topk = letter_counts.partition_map(map_topk).partition_reduce(reduce_topk)
    assert sorted(topk.run()) == [("a", 4), ("i", 7)]


def test_filter_by_count():
    # test_dampr.py:529-545
    items = ["one", "two", "three", "four", "five", "six", "seven", "eight", "nine", "ten"]
    pipe = Dampr.memory(items)
    res = sorted(filter_by_count(pipe, len, lambda cnt: cnt >= 4).run())
    assert res == sorted(["one", "two", "six", "ten"])
    res = sorted(filter_by_count(pipe, len, lambda cnt: cnt < 4).run())
    assert res == sorted(["three", "four", "five", "seven", "eight", "nine"])


def test_sink_and_readback(items, tmp_path):
    # test_dampr.py:183-196: sink writes str(value) lines under path/part-*
    out = str(tmp_path / "sunk")
    lines = items.map(lambda x: x * 2).sink(out)
    assert sorted(int(x) for x in lines.run()) == [x * 2 for x in range(10, 20)]
    import glob

    assert glob.glob(f"{out}/part-*")


def test_sink_json(items, tmp_path):
    out = str(tmp_path / "sunk_json")
    lines = items.map(lambda x: {"v": x}).sink_json(out)
    assert sorted(json.loads(x)["v"] for x in lines.run()) == list(range(10, 20))


def test_sink_run_reads_written_files(spark, items, tmp_path):
    """``run()`` on a sink's lines reads the written files on demand: it
    persists nothing and runs no job beyond the write itself."""
    out = str(tmp_path / "sunk_tsv")
    sc = spark.sparkContext
    before = set(dict(sc._jsc.getPersistentRDDs()))
    sc.setJobGroup("sink_run", "sink then run")
    try:
        lines = items.map(lambda x: (x, x * 2)).sink_tsv(out).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("sink_run")) == 1
    assert set(dict(sc._jsc.getPersistentRDDs())) == before
    want = sorted(f"{x}\t{x * 2}" for x in range(10, 20))
    assert sorted(lines.read()) == want
    assert len(lines.read(3)) == 3
    assert sorted(lines) == want


def test_cached_and_shared(items):
    # test_dampr.py:198-209: checkpoint/cached shares a computed subgraph
    base = items.map(lambda x: x * 2).cached()
    a = base.filter(lambda x: x % 4 == 0)
    b = base.filter(lambda x: x % 4 != 0)
    ra, rb = Dampr.run(a, b)
    assert sorted(list(ra.read()) + list(rb.read())) == [x * 2 for x in range(10, 20)]


def test_reference_noop_kwargs_accepted(items, caplog):
    """Reference call sites that pass combiner=/options=/reduce_buffer=
    (dampr/dampr.py:128-153, :661-691) run unchanged: the knobs are
    documented no-ops (Spark handles partial aggregation/spill itself),
    logged as warnings, never silent failures. Unknown kwargs still raise."""
    import logging

    import pytest

    class _Comb:  # stand-in for the reference's combiner object
        pass

    with caplog.at_level(logging.WARNING, logger="dampr_spark.api"):
        doubled = (
            items.map(lambda x: x * 2)
            .checkpoint(combiner=_Comb(), options={"compress": True})
            .run()
            .read()
        )
        total = (
            items.a_group_by(lambda x: x % 2)
            .reduce(lambda a, b: a + b, reduce_buffer=1000)
            .run()
            .read()
        )
    assert sorted(doubled) == [x * 2 for x in range(10, 20)]
    assert sorted(total) == [
        (0, sum(x for x in range(10, 20) if x % 2 == 0)),
        (1, sum(x for x in range(10, 20) if x % 2 == 1)),
    ]
    assert any("no-op" in r.message for r in caplog.records)
    with pytest.raises(TypeError):
        items.map(lambda x: x).checkpoint(bogus_kwarg=1)


def test_sample(items):
    res = items.sample(1.0).run().read()
    assert sorted(res) == list(range(10, 20))
    assert items.sample(0.0).run().read() == []


def test_text_and_json_sources(tmp_path, spark):
    # test_dampr.py:380-401: text glob/dir reading
    d = tmp_path / "texts"
    d.mkdir()
    (d / "a.txt").write_text("x\ny\n")
    (d / "b.txt").write_text("z\n")
    res = sorted(Dampr.text(str(d)).run())
    assert res == ["x", "y", "z"]
    j = tmp_path / "docs.jsonl"
    j.write_text('{"a": 1}\n{"a": 2}\n')
    res = sorted(Dampr.json(str(j)).map(lambda o: o["a"]).run())
    assert res == [1, 2]


def test_df_bridge(spark, sf_dir):
    # Spark-first escape hatch: fluent API <-> DataFrame
    from dampr_spark.sources.readers import read_table

    df = read_table(spark, sf_dir, "nation")
    names = sorted(Dampr.from_df(df).map(lambda row: row.n_name).run())
    assert len(names) == 25

    back = (
        Dampr.memory([(1, "a"), (2, "b")])
        .to_df(schema="id long, tag string")
        .filter("id = 2")
        .collect()
    )
    assert [(r.id, r.tag) for r in back] == [(2, "b")]


def test_concat(items):
    # SURVEY §2.6: union provided even though the reference never shipped it
    other = Dampr.memory([100, 101])
    res = sorted(items.concat(other).run())
    assert res == list(range(10, 20)) + [100, 101]
    three = sorted(items.concat(other, Dampr.memory([7])).run())
    assert three == [7] + list(range(10, 20)) + [100, 101]


def test_read_input_custom_datasets():
    # dampr/dampr.py:857-877: N datasets = N partitions
    ds1 = [(0, "a"), (1, "b")]
    ds2 = (lambda: iter([(0, "c")]))
    p = Dampr.read_input(ds1, ds2)
    assert p._rdd.getNumPartitions() == 2
    assert sorted(p.run()) == ["a", "b", "c"]


def test_urls_input(tmp_path):
    # dampr/inputs.py:74-97 — file:// URLs keep the test hermetic
    f = tmp_path / "u.txt"
    f.write_text("line1\nline2\n")
    res = sorted(Dampr.urls([f"file://{f}"]).run())
    assert res == ["line1", "line2"]
    # skip_on_error swallows a bad URL
    res = sorted(Dampr.urls([f"file://{f}", "file:///nonexistent-xyz"]).run())
    assert res == ["line1", "line2"]


def test_register_views_sql_surface(spark, sf_dir):
    from dampr_spark.sources.readers import read_table, register_views

    register_views(spark, sf_dir)
    got = spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
    ).collect()
    want = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus").count().orderBy("o_orderstatus").collect()
    )
    assert [(r.o_orderstatus, r.n) for r in got] == [
        (r.o_orderstatus, r["count"]) for r in want
    ]
    # events view carries the converted timestamp column
    assert dict(spark.table("events").dtypes)["ts"].startswith("timestamp")


def test_text_native_split_boundaries(tmp_path, spark):
    """Python-native byte-range reader: every line exactly once regardless
    of where chunk boundaries fall (incl. boundaries ON line starts)."""
    Dampr.use_session(spark)
    f = tmp_path / "lines.txt"
    lines = [f"line{i:03d}" for i in range(200)]
    f.write_text("\n".join(lines) + "\n")
    for chunk in (1, 7, 8, 9, 64, 10_000):
        got = sorted(Dampr.text(str(f), chunk_size=chunk).run())
        assert got == lines, f"chunk_size={chunk}"
    # dir-walk variant skips dotfiles like the reference
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a.txt").write_text("aa\nbb\n")
    (d / ".hidden").write_text("nope\n")
    assert sorted(Dampr.text(str(d), chunk_size=4).run()) == ["aa", "bb"]


def test_text_native_gzip_unsplit(tmp_path, spark):
    import gzip

    Dampr.use_session(spark)
    g = tmp_path / "z.txt.gz"
    with gzip.open(g, "wt") as f:
        f.write("g1\ng2\ng3\n")
    (tmp_path / "plain.txt").write_text("p1\np2\n")
    got = sorted(Dampr.text(str(tmp_path), chunk_size=4).run())
    assert got == ["g1", "g2", "g3", "p1", "p2"]


def test_indexer_bm25_matches_full_scan(spark, sf_dir, tmp_path):
    """Index-driven BM25 (postings pruned to query terms) must return
    exactly the oracle-green full-scan bm25_rank top-k — same scores, same
    4dp-rounded cut."""
    from dampr_spark.operators.indexer import Indexer
    from dampr_spark.plans import all_queries
    from dampr_spark.plans.textops import _BM25_QUERY_TERMS
    from dampr_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    ix = Indexer(str(tmp_path / "idx")).build_scored(docs)
    via_index = {
        (r.doc_id, r.bm25)
        for r in ix.search_bm25(spark, list(_BM25_QUERY_TERMS), k=15).collect()
    }
    full_scan = {
        (r.doc_id, r.bm25)
        for r in all_queries()["bm25_rank"].builder(spark, sf_dir).collect()
    }
    assert via_index == full_scan and full_scan


def test_csv_and_orc_round_trip(spark, sf_dir, tmp_path_factory):
    """CSV and ORC connectors: write the nation table out in each format
    and read it back identically (schema-explicit CSV read: single pass)."""
    from pyspark.sql import functions as F

    from dampr_spark.sources.readers import read_csv, read_orc, read_table

    d = tmp_path_factory.mktemp("fmt_rt")
    nation = read_table(spark, sf_dir, "nation")
    want = sorted(tuple(r) for r in nation.collect())

    csv_path = str(d / "nation_csv")
    nation.write.option("header", "true").csv(csv_path)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in nation.schema)
    back_csv = read_csv(spark, csv_path, schema=schema)
    assert sorted(tuple(r) for r in back_csv.collect()) == want

    orc_path = str(d / "nation_orc")
    nation.write.orc(orc_path)
    back_orc = read_orc(spark, orc_path)
    assert sorted(tuple(r) for r in back_orc.collect()) == want
    # pushdown intact through the ORC scan
    plan = (
        back_orc.filter(F.col("n_nationkey") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_nationkey" in plan


def test_from_sql_bridge(spark, sf_dir):
    """SQL → fluent bridge: declare the aggregate in SQL, post-process with
    a lambda, read back through the fluent runner."""
    from dampr_spark.api import Dampr

    Dampr.use_session(spark)
    res = (
        Dampr.from_sql(
            "SELECT n_name, n_regionkey FROM nation ORDER BY n_name", sf_dir
        )
        .map(lambda row: f"{row.n_name}:{row.n_regionkey}")
        .run()
    )
    vals = sorted(res.read())
    assert len(vals) == 25 and all(":" in v for v in vals)


def test_run_shared_shuffle_parent_computes_once(spark):
    """Reference parity (dampr/runner.py:127-135 Graph.union dedup): a
    shared parent ENDING IN A SHUFFLE computes its map side once across
    the pipelines of one Dampr.run — Spark skips already-computed shuffle
    map stages across jobs, so the accumulator in the pre-shuffle map must
    fire exactly once per input element, not once per pipeline."""
    acc = spark.sparkContext.accumulator(0)

    def tag(kv):
        acc.add(1)
        return kv[0] % 3

    base = Dampr.memory([(i, i) for i in range(100)]).group_by(tag).reduce(
        lambda k, it: sum(v[1] for v in it)
    )
    # reduce emits (k, result) tuples as values
    p1 = base.map(lambda kr: kr)
    p2 = base.map(lambda kr: (kr[0], -kr[1]))
    ra, rb = Dampr.run(p1, p2)
    assert sorted(ra.read()) == sorted((k, -s) for k, s in rb.read())
    assert acc.value == 100, f"shared map side ran {acc.value / 100}x"


def test_run_shared_narrow_parent_persists_frontier(spark):
    """A shared parent with only NARROW ops to the leaves has no shuffle
    for Spark to reuse: Dampr.run must find the shared JVM frontier,
    persist it for the run, and unpersist afterwards. (The fused Python
    lambdas above the frontier still re-run per pipeline — the documented
    residual vs the reference; the scan/JVM work is what's shared.)"""
    from dampr_spark.api import _persist_shared_frontier

    base = Dampr.memory(list(range(50))).map(lambda v: v + 1)
    p1 = base.filter(lambda v: v % 2 == 0)
    p2 = base.filter(lambda v: v % 2 == 1)

    persisted = _persist_shared_frontier([p1._rdd, p2._rdd])
    assert persisted, "shared narrow parent must yield a persisted frontier"
    none_lvl = spark.sparkContext._jvm.org.apache.spark.storage.StorageLevel.NONE()
    for jr in persisted:
        assert not jr.getStorageLevel().equals(none_lvl)
        jr.unpersist(False)

    ra, rb = Dampr.run(p1, p2)
    assert sorted(list(ra.read()) + list(rb.read())) == list(range(1, 51))
    # run() unpersisted what it persisted: nothing of ours lingers.
    for jr in _persist_shared_frontier([p1._rdd, p2._rdd]):
        jr.unpersist(False)


def test_run_disjoint_pipelines_no_persist(spark):
    """Pipelines with no common lineage must not trigger any persist."""
    from dampr_spark.api import _persist_shared_frontier

    p1 = Dampr.memory([1]).map(lambda v: v)
    p2 = Dampr.memory([2]).map(lambda v: v)
    assert _persist_shared_frontier([p1._rdd, p2._rdd]) == []
    ra, rb = Dampr.run(p1, p2)
    assert ra.read() == [1] and rb.read() == [2]


def test_read_input_reference_dataset_subclass(spark):
    """Ported copy of the reference's custom-tap test
    (tests/test_dampr.py:340-357): a Dataset subclass with read() works as
    a read_input tap, each dataset one partition, and read() runs
    executor-side."""
    from dampr_spark.api import Dataset

    class RangeDataset(Dataset):
        def __init__(self, n):
            self.n = n

        def read(self):
            for i in range(self.n):
                yield i, i

    pipe = Dampr.read_input(RangeDataset(5), RangeDataset(10))
    assert pipe._rdd.getNumPartitions() == 2
    results = pipe.fold_by(lambda x: 1, lambda x, y: x + y).read()
    assert results[0][1] == sum(range(5)) + sum(range(10))


def test_read_input_chunker_expands_to_partitions(spark):
    """A pure Chunker (chunks() yielding Datasets) expands into one
    partition per chunk — the reference's lazy chunk enumeration
    (dampr/dampr.py:868-870)."""
    from dampr_spark.api import Chunker, Dataset

    class OneDataset(Dataset):
        def __init__(self, base):
            self.base = base

        def read(self):
            yield self.base, self.base * 10

    class ThreeChunks(Chunker):
        def chunks(self):
            for i in range(3):
                yield OneDataset(i)

    pipe = Dampr.read_input(ThreeChunks())
    assert pipe._rdd.getNumPartitions() == 3
    assert sorted(pipe.run().read()) == [0, 10, 20]


def test_read_input_iterable_with_read_attr_stays_iterable(spark):
    """Dispatch is isinstance(Dataset/Chunker), not attribute probing
    (the reference's own rule, dampr/dampr.py:866): a plain iterable that
    happens to expose a `read` attribute — an open file consumed by line
    iteration, a response object — must take the iterable path, not be
    silently re-read through .read()."""

    class PairsWithReadAttr:
        def __init__(self, pairs):
            self.pairs = pairs

        def read(self):  # NOT the Dataset protocol — returns a blob
            return "raw-bytes-not-pairs"

        def __iter__(self):
            return iter(self.pairs)

    src_obj = PairsWithReadAttr([(0, "a"), (1, "b")])
    pipe = Dampr.read_input(src_obj)
    assert sorted(pipe.run()) == ["a", "b"]


def test_run_share_python_computes_shared_lambda_once(spark):
    """share_python=True closes the documented Python-lambda residual: the
    narrow Python map shared by both pipelines runs ONCE for the whole
    Dampr.run (reference Graph.union parity, dampr/runner.py:127-135),
    because the runner persists the shared PBase frontier before any child
    thunk builds its fused PythonRDD."""
    acc = spark.sparkContext.accumulator(0)

    def tag(v):
        acc.add(1)
        return v + 1

    base = Dampr.memory(list(range(80))).map(tag)
    p1 = base.filter(lambda v: v % 2 == 0)
    p2 = base.map(lambda v: -v)
    ra, rb = Dampr.run(p1, p2, share_python=True)
    assert sorted(ra.read()) == [v for v in range(1, 81) if v % 2 == 0]
    assert sorted(rb.read()) == sorted(-v for v in range(1, 81))
    assert acc.value == 80, f"shared python map ran {acc.value / 80}x"


def test_run_share_python_default_off_still_correct(spark):
    """Without the option the shared lambda re-runs per pipeline (the
    documented default residual) but results are identical — the flag is
    purely a cost knob, never a semantics change."""
    acc = spark.sparkContext.accumulator(0)

    def tag(v):
        acc.add(1)
        return v * 2

    base = Dampr.memory(list(range(40))).map(tag)
    p1 = base.filter(lambda v: v > 10)
    p2 = base.filter(lambda v: v <= 10)
    ra, rb = Dampr.run(p1, p2)
    assert sorted(ra.read() + rb.read()) == [v * 2 for v in range(40)]
    assert acc.value == 80  # 2 pipelines x 40 rows: fused re-execution


def test_run_share_python_nested_frontier_ancestor_runs_once(spark):
    """Frontier ordering: Y is shared by P3 directly AND sits inside X's
    lineage (X shared by P1/P2). If X were forced before Y is persisted,
    X's PythonRDD would fuse through the uncached Y and Y's lambda would
    run twice — ancestors-first persisting keeps it at exactly one pass
    over the 60 rows."""
    acc_y = spark.sparkContext.accumulator(0)
    acc_x = spark.sparkContext.accumulator(0)

    def tag_y(v):
        acc_y.add(1)
        return v + 1

    def tag_x(v):
        acc_x.add(1)
        return v * 10

    y = Dampr.memory(list(range(60))).map(tag_y)
    x = y.map(tag_x)
    p1 = x.filter(lambda v: v % 2 == 0)
    p2 = x.map(lambda v: -v)
    p3 = y.map(lambda v: v + 100)  # reaches Y NOT through X
    r1, r2, r3 = Dampr.run(p1, p2, p3, share_python=True)
    assert sorted(r3.read()) == [v + 101 for v in range(60)]
    assert sorted(r2.read()) == sorted(-(v + 1) * 10 for v in range(60))
    assert acc_y.value == 60, f"ancestor lambda ran {acc_y.value / 60}x"
    assert acc_x.value == 60, f"descendant lambda ran {acc_x.value / 60}x"


def test_text_len_fast_path_matches_line_walk(tmp_path, spark):
    """len() on a byte-range text source uses the binary newline counter;
    it must agree with the decoded line walk for every chunk boundary,
    with and without a trailing newline, through 1:1 maps (json), and
    fall back (still correct) past cardinality-changing ops."""
    Dampr.use_session(spark)
    f = tmp_path / "lines.txt"
    lines = [f"line{i:03d}" for i in range(57)]
    for body, n in [
        ("\n".join(lines) + "\n", 57),
        ("\n".join(lines), 57),  # no trailing newline
        ("", 0),
        ("one", 1),
        ("\n", 1),  # single empty line
        ("\n\n\n", 3),
    ]:
        f.write_text(body)
        for chunk in (1, 3, 8, 64, 10_000):
            docs = Dampr.text(str(f), chunk_size=chunk)
            # fast path must be active (splits metadata present)
            assert docs._text_splits is not None
            assert docs.len().run().read() == [n], (body[:20], chunk, n)
            # 1:1 map keeps the fast path; flat_map must fall back
            assert docs.map(str.upper).len().run().read() == [n]
            assert docs.flat_map(lambda s: [s, s]).len().run().read() == [2 * n]

    # gzip whole-file split
    import gzip

    g = tmp_path / "z.txt.gz"
    with gzip.open(g, "wt") as fh:
        fh.write("g1\ng2\ng3")  # no trailing newline
    assert Dampr.text(str(g), chunk_size=4).len().run().read() == [3]


def test_fused_a_group_by_matches_unfused(spark):
    """The fused map/filter/flat_map -> local-combine path must produce
    exactly the generic reduceByKey result, including through the dict
    spill threshold and across a cached fusion barrier."""
    import dampr_spark.api as api

    Dampr.use_session(spark)
    data = [f"w{i % 13} w{i % 7} w{i % 13}" for i in range(500)]

    def pipeline(src):
        return (
            src.flat_map(str.split)
            .filter(lambda w: w != "w0")
            .map(lambda w: w.upper())
            .count()
        )

    want = pipeline(Dampr.memory(data)).run().read()
    assert want and all(isinstance(k, str) for k, _n in want)

    # spill threshold of 2: partial dicts flush constantly; result identical
    old = api._FUSED_COMBINE_MAX_KEYS
    api._FUSED_COMBINE_MAX_KEYS = 2
    try:
        assert pipeline(Dampr.memory(data)).run().read() == want
    finally:
        api._FUSED_COMBINE_MAX_KEYS = old

    # a cached() node is a fusion barrier: persisted parent is reused and
    # the result is unchanged
    cached = Dampr.memory(data).flat_map(str.split).cached()
    got = (
        cached.filter(lambda w: w != "w0")
        .map(lambda w: w.upper())
        .count()
        .run()
        .read()
    )
    assert got == want

    # fold_by and mean ride the same fused path
    nums = Dampr.memory(list(range(100)))
    assert nums.fold_by(lambda v: v % 3, lambda a, b: a + b).run().read() == [
        (0, sum(v for v in range(100) if v % 3 == 0)),
        (1, sum(v for v in range(100) if v % 3 == 1)),
        (2, sum(v for v in range(100) if v % 3 == 2)),
    ]


def test_fused_reduces_match_python_oracle(spark):
    """count() (identity and derived keys), fold_by, mean and a sort=False
    reduce over mixed str/int/None/tuple keys equal a pure-Python
    Counter/dict over the same values — on the Counter kernel, on the
    generic dict loop, through a spill threshold of 2 and across a cached()
    barrier."""
    import operator
    from collections import Counter

    import dampr_spark.api as api

    Dampr.use_session(spark)
    lines = [f"w{i % 13} w{i % 7} x{i % 5} w{i % 13}" for i in range(400)]
    words = [w for line in lines for w in line.split()]
    mixed = [
        v
        for i in range(300)
        for v in (f"s{i % 11}", i % 9, None, (i % 3, None), ("t", i % 4))
    ]

    def by_key(pairs):
        return sorted(pairs.items())

    def check(max_keys):
        old = api._FUSED_COMBINE_MAX_KEYS
        api._FUSED_COMBINE_MAX_KEYS = max_keys
        try:
            split = Dampr.memory(lines, partitions=4).flat_map(str.split)
            assert split.count().run().read() == by_key(Counter(words))
            assert split.count(key=len).run().read() == by_key(Counter(map(len, words)))
            pair = lambda w: (w[0], len(w))  # noqa: E731
            assert split.count(key=pair).run().read() == by_key(Counter(map(pair, words)))
            assert split.count(key=lambda _w: None).run().read() == [(None, len(words))]

            # Mixed key types cannot be sorted: the sort=False reduce checks
            # the shuffle's partitioning of each type, on both kernels.
            m = Dampr.memory(mixed, partitions=4)
            want = Counter(mixed)
            # A key placed in two partitions would show up as two rows.
            for vf in (api._one, lambda _v: 1):
                rows = m.a_group_by(lambda v: v, vf).reduce(operator.add, sort=False).run().read()
                assert len(rows) == len(want) and dict(rows) == want

            nums = Dampr.memory(list(range(500)), partitions=4)
            sums: dict = {}
            for v in range(500):
                sums[(v % 3, v % 2)] = sums.get((v % 3, v % 2), 0) + v
            assert nums.fold_by(lambda v: (v % 3, v % 2), operator.add).run().read() == by_key(sums)
            groups: dict = {}
            for v in range(500):
                groups.setdefault(v % 7, []).append(v)
            means = {k: sum(vs) / len(vs) for k, vs in groups.items()}
            assert nums.mean(key=lambda v: v % 7).run().read() == by_key(means)

            cached = Dampr.memory(lines, partitions=4).flat_map(str.split).cached()
            assert cached.count().run().read() == by_key(Counter(words))
            assert cached.count(key=len).run().read() == by_key(Counter(map(len, words)))
        finally:
            api._FUSED_COMBINE_MAX_KEYS = old

    check(api._FUSED_COMBINE_MAX_KEYS)
    check(2)


def test_count_kernel_flushes_bounded_partial_tallies():
    """The Counter kernel flushes once a tally reaches the spill threshold:
    with a threshold of 2 it emits more partial rows than there are keys,
    and the partials sum to the full count."""
    import operator
    from collections import Counter

    import dampr_spark.api as api

    vals = [f"k{i % 17}" for i in range(1000)]
    old = api._FUSED_COMBINE_MAX_KEYS
    api._FUSED_COMBINE_MAX_KEYS = 2
    try:
        combine = api._fused_combiner((), api._identity, api._one, operator.add)
    finally:
        api._FUSED_COMBINE_MAX_KEYS = old
    rows = list(combine((i, v) for i, v in enumerate(vals)))
    total: Counter = Counter()
    for k, n in rows:
        total[k] += n
    assert total == Counter(vals)
    assert len(rows) > len(set(vals))


def test_partition_hash_matches_portable_hash(monkeypatch):
    """The fused reduce's partitioner places every key where
    ``portable_hash`` (reduceByKey's default) would."""
    from pyspark.rdd import portable_hash

    from dampr_spark.api import _partition_hash

    monkeypatch.setenv("PYTHONHASHSEED", "0")
    for k in ("w", "", 0, -7, 2**70, True, None, (1, None), ("a", (None, 2)), 1.5, frozenset({1})):
        assert _partition_hash(k) == portable_hash(k), k


def test_text_byte_offset_keys(tmp_path, spark):
    """Dampr.text keys are each line's starting byte offset — what f.tell()
    gives before each readline — and its values are the decoded lines with
    only '\\n' stripped, across chunk boundaries that split a multi-byte
    character, on '\\r\\n' endings, an empty line and no trailing newline."""
    Dampr.use_session(spark)
    f = tmp_path / "mixed.txt"
    f.write_bytes("héllo wörld\r\n\nnaïve ☃ snow\r\nend€".encode("utf-8"))
    want = []
    with open(f, "rb") as fh:
        while True:
            pos = fh.tell()
            line = fh.readline()
            if not line:
                break
            want.append((pos, line.decode("utf-8", "replace").rstrip("\n")))
    assert want[0] == (0, "héllo wörld\r")
    assert want[1] == (len("héllo wörld\r\n".encode("utf-8")), "")
    assert want[-1][1] == "end€"
    for chunk in (1, 2, 3, 5, 64):  # chunk 2 cuts "é" (bytes 1-2)
        got = sorted(Dampr.text(str(f), chunk_size=chunk)._rdd.collect())
        assert got == want, f"chunk_size={chunk}"
