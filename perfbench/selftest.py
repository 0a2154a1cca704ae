"""Benchmark self-test: planted failures must be counted, not timed.

Runs stream_hot with a corrupt staged file as the first timed micro-batch
of the orders stream, batch_scattered with a source that throws on the
first timed load (one table of that load fails), and analytics_heavy with
a query that throws on every pass. It asserts that each failure is
recorded as an error, kept out of every latency sample, counted in
ok_rate, and that the committed work still matches the correctness checks.

  python3 perfbench/run.py --self-test
"""


def _check(name, cond, problems):
    if not cond:
        problems.append(name)


def main(one_run):
    from run import end_to_end
    problems = []

    correct, attempted, failed, metrics, notes, _, res = one_run(
        "stream_hot", seed=7, seconds=8, trace=0, plant=True)
    units = res["units"]
    bad = [u for u in units if not u["ok"]]
    _check("stream: exactly one failed micro-batch", failed == 1 and len(bad) == 1, problems)
    _check("stream: the failure is on the orders stream",
           bool(bad) and bad[0]["kind"] == "orders", problems)
    _check("stream: the failed micro-batch carries no latency or rows",
           all(u["latency_s"] == 0 and u["rows"] == 0 for u in bad), problems)
    _check("stream: the other streams kept committing",
           {u["kind"] for u in units if u["ok"]} == {"lineitem", "customer"}, problems)
    _check("stream: ok_rate counts the failure",
           metrics["ok_rate"] < 1 and
           abs(metrics["ok_rate"] - (attempted - failed) / attempted) < 1e-12, problems)
    _check("stream: latency samples exclude the failure",
           notes["batch_p50_s"] == f"{attempted - failed} samples", problems)
    _check("stream: committed work matches the replay", correct, problems)

    correct, attempted, failed, metrics, notes, _, res = one_run(
        "batch_scattered", seed=7, seconds=12, trace=0, plant=True)
    units = res["units"]
    bad = [u for u in units if not u["ok"]]
    _check("batch: exactly one failed load", failed == 1 and len(bad) == 1, problems)
    _check("batch: the failed load is the first timed one",
           bool(bad) and bad[0]["index"] == min(u["index"] for u in units), problems)
    _check("batch: the failure names its table", bool(bad) and "orders" in bad[0]["error"], problems)
    _check("batch: the failed load carries no latency", all(u["latency_s"] == 0 for u in bad), problems)
    _check("batch: at least one load succeeded", attempted - failed >= 1, problems)
    _check("batch: ok_rate counts the failure",
           abs(metrics["ok_rate"] - (attempted - failed) / attempted) < 1e-12, problems)
    _check("batch: latency samples exclude the failure",
           notes["batch_p50_s"] == f"{attempted - failed} samples", problems)
    _check("batch: committed work matches the replay", correct, problems)

    queries = ["q108_simhash64_neardups", "q220_adamic_adar"]
    correct, attempted, failed, metrics, notes, _, res = one_run(
        "analytics_heavy", seed=7, seconds=1, trace=0, plant=True, queries=queries)
    units = res["units"]
    passes = len({u["index"] for u in units})
    bad = [u for u in units if not u["ok"]]
    _check("analytics: the planted query fails on every pass",
           failed == passes and all(u["kind"] == "planted_failure" for u in bad), problems)
    _check("analytics: failed runs carry no latency", all(u["latency_s"] == 0 for u in bad), problems)
    _check("analytics: ok_rate counts the failures",
           abs(metrics["ok_rate"] - (attempted - failed) / attempted) < 1e-12, problems)
    _check("analytics: suite excludes the failing query",
           abs(metrics["suite_s"] - end_to_end(
               dict(res, units=[u for u in units if u["ok"]]), lambda u: 1)[0]["suite_s"]) < 1e-12,
           problems)
    _check("analytics: real queries still match their expected outputs", correct, problems)

    for p in problems:
        print(f"self-test FAILED: {p}")
    print("self-test: ok" if not problems else f"self-test: {len(problems)} check(s) failed")
    return 1 if problems else 0
