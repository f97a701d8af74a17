"""Self-test of the output checks, without Spark.

    python3 perfbench/selftest.py

Builds each workload's correct output from the reference, confirms the
check passes it, then breaks it one way at a time (a dropped event, a
wrong entity, a lost count, a leaked filter row, a missing or extra
curated doc, a wrong split) and confirms each is flagged as exactly one
failed operation. Also checks that the generators repeat for a seed.
"""

from __future__ import annotations

import copy
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, gen  # noqa: E402


def _expect(name: str, v: check.Verdict, failed: int) -> None:
    if v.failed != failed:
        raise AssertionError(f"{name}: {v.failed} failed, expected {failed} ({v.errors})")
    print(f"ok  {name}: {v.failed} failed")


def stateful() -> None:
    s = gen.stream_inputs("cloudtrail", 7, 600, 30, 10, 30, 0.03)
    want, source = check.expected_entities(s.events)
    enriched = [dict(e, entity=want[e["event_id"]]) for e in s.events]
    alerts = [{"role_id": k, "occurrences": n} for k, n in Counter(
        e["role_id"] for e in s.events if e["mfa"] == "false").items()]
    _expect("stateful correct output", check.check_stateful(s.events, enriched, alerts), 0)

    _expect("stateful dropped event", check.check_stateful(s.events, enriched[1:], alerts), 1)

    eid = next(iter(source))  # an event that read an earlier write
    wrong = copy.deepcopy(enriched)
    row = next(r for r in wrong if r["event_id"] == eid)
    row["entity"] = row["role_id"]
    per_file = dict(enumerate(s.file_of))
    v = check.check_stateful(s.events, wrong, alerts, batch_of=per_file)
    _expect("stateful wrong entity", v, 1)
    if s.file_of[source[eid]] < s.file_of[eid] and v.known != 1:
        raise AssertionError("raw-id fallback across batches not classed as the known defect")
    same_batch = {e["event_id"]: 0 for e in s.events}
    v = check.check_stateful(s.events, wrong, alerts, batch_of=same_batch)
    if v.known != 0 or v.correct:
        raise AssertionError("a wrong entity within one batch must count as an unexplained failure")

    short = [dict(a) for a in alerts]
    short[0]["occurrences"] -= 1
    _expect("stateful lost count", check.check_stateful(s.events, enriched, short), 1)


def stateless() -> None:
    s = gen.stream_inputs("cert", 7, 500, 100, 5, 100, 0.03)
    out = [dict(e) for e in s.events if check.cert_survives(e)]
    _expect("stateless correct output", check.check_stateless(s.events, out), 0)
    _expect("stateless dropped event", check.check_stateless(s.events, out[1:]), 1)
    leaked = next(e for e in s.events if not check.cert_survives(e))
    _expect("stateless leaked row", check.check_stateless(s.events, out + [dict(leaked)]), 1)


def curation() -> None:
    c = gen.corpus(7, 800)
    want = check.expected_survivors(c.docs, c.families)
    out = [{"doc_id": i, "split": check.split_of(i)} for i in sorted(want)]
    _expect("curation correct output", check.check_curation(c.docs, c.families, out), 0)
    _expect("curation missing doc", check.check_curation(c.docs, c.families, out[1:]), 1)
    fam = next(ids for ids in c.families.values() if len(ids) > 1)
    extra = next(i for i in fam if i not in want)
    _expect("curation second family member",
            check.check_curation(c.docs, c.families, out + [{"doc_id": extra, "split": check.split_of(extra)}]), 1)
    bad = [dict(r) for r in out]
    bad[0]["split"] = "val" if bad[0]["split"] != "val" else "train"
    _expect("curation wrong split", check.check_curation(c.docs, c.families, bad), 1)


def determinism() -> None:
    a, b = (gen.stream_inputs("cloudtrail", 3, 300, 30, 4, 30, 0.03) for _ in range(2))
    if a.digest() != b.digest() or gen.corpus(3, 300).digest() != gen.corpus(3, 300).digest():
        raise AssertionError("generators are not deterministic for a seed")
    if a.digest() == gen.stream_inputs("cloudtrail", 4, 300, 30, 4, 30, 0.03).digest():
        raise AssertionError("different seeds gave the same inputs")
    print("ok  generators repeat for a seed")


if __name__ == "__main__":
    stateful()
    stateless()
    curation()
    determinism()
    print("selftest passed")
