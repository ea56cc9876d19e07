"""Job attribution by submission time counts jobs launched from pool
threads, which a job-group filter misses."""

from concurrent.futures import ThreadPoolExecutor

from perfbench.trace import SparkProbe, Tracer


def test_jobs_from_pool_threads_are_attributed_to_the_call(spark):
    sc = spark.sparkContext
    probe = SparkProbe(spark)
    spark.range(5).count()  # before the window: must not be counted
    tracer = Tracer(True)
    tracer.request = 1
    sc.setJobGroup("perfbench-call", "call under test")
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    try:
        with tracer.span("call"):
            with ThreadPoolExecutor(2) as pool:
                futs = [pool.submit(lambda i=i: spark.range(100 * (i + 1)).count())
                        for i in range(3)]
                for f in futs:
                    f.result()
            spark.range(10).count()
    finally:
        sc.setJobGroup(None, None)
    grouped = sc.statusTracker().getJobIdsForGroup("perfbench-call")
    pooled = set(sc.statusTracker().getJobIdsForGroup(None)) - before
    got = probe.collect([(s["id"], s["start"], s["end"]) for s in tracer.spans])
    attributed = {j["id"] for js in got["by_span"].values() for j in js}
    assert pooled, "pool threads should run outside the caller's job group"
    assert attributed == set(grouped) | pooled
    assert got["totals"]["jobs"] == len(grouped) + len(pooled)
    assert got["totals"]["stages"] >= got["totals"]["jobs"]
    assert got["totals"]["job_s"] > 0


def test_nested_spans_get_their_own_jobs(spark):
    probe = SparkProbe(spark)
    tracer = Tracer(True)
    tracer.request = 1
    with tracer.span("outer"):
        spark.range(10).count()
        with tracer.span("inner"):
            spark.range(20).count()
    got = probe.collect([(s["id"], s["start"], s["end"]) for s in tracer.spans])
    outer, inner = tracer.spans
    assert len(got["by_span"][outer["id"]]) >= 1
    assert len(got["by_span"][inner["id"]]) >= 1
