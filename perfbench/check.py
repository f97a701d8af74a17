"""Reference checks, computed in plain Python from the generated inputs.

Nothing here imports the program: each expected output is derived from
the workload's own definition (latest write per key, occurrence counts,
the filter predicates, the curation gates), so a wrong program output
cannot also make the expectation wrong.

Each check returns a :class:`Verdict`: ``failed`` counts operations whose
output is missing or wrong, ``known`` the part of them explained by a
recorded defect, and ``errors`` a few examples for the log.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field


@dataclass
class Verdict:
    attempted: int
    failed: int = 0
    #: failures of the recorded fan-out state-loss class (see README.md)
    known: int = 0
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def note(self, msg: str) -> None:
        if len(self.errors) < 5:
            self.errors.append(msg)

    @property
    def correct(self) -> bool:
        """No failure outside the recorded defect class."""
        return self.failed == self.known


# ---------------------------------------------------------------------------
# stream_stateful


def expected_entities(events: list[dict]) -> tuple[dict[int, str], dict[int, int]]:
    """Latest-write-per-key replay in (ts, event_id) order: an AssumeRole
    writes ``user/<principal>`` for its role; every event reads the
    latest write at or before it, else falls back to its raw role id.
    Also returns, per event that read a write, the event_id of that
    write."""
    latest: dict[str, tuple[str, int]] = {}
    entity: dict[int, str] = {}
    source: dict[int, int] = {}
    for e in sorted(events, key=lambda e: (e["ts"], e["event_id"])):
        if e["event_name"] == "AssumeRole":
            latest[e["role_id"]] = ("user/" + e["principal"], e["event_id"])
        hit = latest.get(e["role_id"])
        if hit is None:
            entity[e["event_id"]] = e["role_id"]
        else:
            entity[e["event_id"]], source[e["event_id"]] = hit
    return entity, source


def check_stateful(
    events: list[dict],
    enriched: list[dict],
    alerts: list[dict],
    batch_of: dict[int, int] | None = None,
) -> Verdict:
    """One operation per event. An event fails if its enriched row is
    missing, duplicated or carries the wrong entity, or if it is an
    ``mfa=false`` event its key's summed ``occurrences`` do not account
    for. ``batch_of`` (event_id -> micro-batch) classifies a raw-id
    fallback where the write it should have read sits in an earlier
    micro-batch as the recorded fan-out state loss."""
    v = Verdict(attempted=len(events))
    want, source = expected_entities(events)
    by_id = {e["event_id"]: e for e in events}
    got = Counter(r["event_id"] for r in enriched)
    seen_entity = {r["event_id"]: r.get("entity") for r in enriched}
    hits = 0
    for eid, ent in want.items():
        n = got.get(eid, 0)
        if n != 1:
            v.failed += 1
            v.note(f"event {eid}: {n} enriched rows")
            continue
        if seen_entity[eid] == ent:
            hits += eid in source
            continue
        v.failed += 1
        v.note(f"event {eid}: entity {seen_entity[eid]!r}, expected {ent!r}")
        if (
            batch_of is not None
            and eid in source
            and seen_entity[eid] == by_id[eid]["role_id"]
            and batch_of.get(source[eid], -1) < batch_of.get(eid, -1)
        ):
            v.known += 1
    extra_ids = set(got) - set(want)
    v.failed += len(extra_ids)
    if extra_ids:
        v.note(f"{len(extra_ids)} enriched rows for unknown events")

    want_occ = Counter(e["role_id"] for e in events if e["mfa"] == "false")
    got_occ: Counter = Counter()
    for r in alerts:
        got_occ[r["role_id"]] += int(r["occurrences"])
    for key in set(want_occ) | set(got_occ):
        diff = abs(want_occ.get(key, 0) - got_occ.get(key, 0))
        if diff:
            v.failed += diff
            v.note(f"key {key}: occurrences {got_occ.get(key, 0)}, expected {want_occ.get(key, 0)}")
    v.extra["state_hit_ratio"] = hits / len(source) if source else 1.0
    return v


# ---------------------------------------------------------------------------
# stream_stateless

_HEARTBEAT_RULE = re.compile(r"^certificate_update$")
_WWW_RULE = re.compile(r"^www\.")


def cert_survives(e: dict) -> bool:
    return bool(_HEARTBEAT_RULE.search(e["message_type"])) and any(
        _WWW_RULE.search(d) for d in e["domains"]
    )


def check_stateless(events: list[dict], out: list[dict]) -> Verdict:
    """One operation per event: a survivor must appear exactly once with
    its fields intact, a dropped event must not appear at all."""
    v = Verdict(attempted=len(events))
    got = defaultdict(list)
    for r in out:
        got[r["cert_index"]].append(r)
    for e in events:
        rows = got.pop(e["cert_index"], [])
        if not cert_survives(e):
            if rows:
                v.failed += 1
                v.note(f"cert {e['cert_index']}: should have been filtered")
            continue
        if len(rows) != 1 or rows[0]["domains"] != e["domains"] or rows[0]["message_type"] != e["message_type"]:
            v.failed += 1
            v.note(f"cert {e['cert_index']}: {len(rows)} rows, first {rows[:1]}")
    if got:
        v.failed += sum(len(r) for r in got.values())
        v.note(f"{len(got)} output rows for unknown certs")
    return v


# ---------------------------------------------------------------------------
# curation_batch

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "las", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}
QUALITY_BAR = 0.5
SPLITS = (("train", 90), ("val", 5), ("test", 5))
PROBE_MOD = 97


def lang_of(text: str) -> str:
    w = text.split(" ")
    scores = {lang: sum(t in m for t in w) for lang, m in LANG_MARKERS.items()}
    best = max(scores.values())
    if best <= 0:
        return "und"
    return next(lang for lang, s in scores.items() if s == best)


def quality(text: str) -> float:
    w = text.split(" ")
    n = len(w)
    stop = sum(t in STOPWORDS for t in w)
    mwl = (len(text) - (n - 1)) / n
    return 0.4 * min(n / 100.0, 1.0) + 0.3 * (1.0 - stop / n) + 0.3 * min(mwl / 10.0, 1.0)


def gopher_ok(text: str) -> bool:
    w = text.split(" ")
    n = len(w)
    if not 50 <= n <= 100_000:
        return False
    mwl = (len(text) - (n - 1)) / n
    symbols = len(re.findall(r"#|\.\.\.", text))
    alpha = sum(bool(re.search("[A-Za-z]", t)) for t in w)
    distinct_stop = len({t for t in w if t in STOPWORDS})
    return 3.0 <= mwl <= 10.0 and symbols / n <= 0.1 and alpha / n >= 0.8 and distinct_stop >= 2


def passes_gates(text: str) -> bool:
    return gopher_ok(text) and lang_of(text) == "en" and quality(text) >= QUALITY_BAR


def shingles(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else set()


def split_of(doc_id: int) -> str:
    bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
    lo = 0
    for name, width in SPLITS:
        if lo <= bucket < lo + width:
            return name
        lo += width
    return SPLITS[-1][0]


def expected_survivors(docs: list[dict], families: dict[int, list[int]]) -> set[int]:
    """The curated set, derived from the flow's definition:

    1. gates: Gopher rules, ``lang == 'en'`` and quality >= 0.5;
    2. exact dedup: the minimum id per distinct text;
    3. near dup: per planted family, the member of highest quality (ties
       to the lower id) among those left after step 2; every doc outside
       the families is its own cluster;
    4. decontamination: drop the probe slice (``doc_id % 97 == 0``) and
       every doc sharing a word 3-shingle with a probe document.
    """
    kept = [d for d in docs if passes_gates(d["text"])]
    first: dict[str, int] = {}
    for d in sorted(kept, key=lambda d: d["doc_id"]):
        first.setdefault(d["text"], d["doc_id"])
    after_exact = set(first.values())
    text_of = {d["doc_id"]: d["text"] for d in docs}
    members = {i for ids in families.values() for i in ids}
    canonical = {i for i in after_exact if i not in members}
    for ids in families.values():
        alive = [i for i in ids if i in after_exact]
        if alive:
            canonical.add(max(alive, key=lambda i: (quality(text_of[i]), -i)))
    probe_sh: set[str] = set()
    for d in docs:
        if d["doc_id"] % PROBE_MOD == 0:
            probe_sh |= shingles(d["text"])
    return {
        i for i in canonical if i % PROBE_MOD != 0 and not (shingles(text_of[i]) & probe_sh)
    }


def check_curation(
    docs: list[dict], families: dict[int, list[int]], out: list[dict], want: set[int] | None = None
) -> Verdict:
    """One operation per document. A document fails when it survives but
    should not (gated out, an exact copy, a second member of its near-dup
    family, a probe or contaminated), when it should survive but is
    missing, or when its split is not the md5 split of its id."""
    if want is None:
        want = expected_survivors(docs, families)
    v = Verdict(attempted=len(docs))
    ids = Counter(r["doc_id"] for r in out)
    for i, n in ids.items():
        if n != 1:
            v.failed += n - 1
            v.note(f"doc {i}: {n} output rows")
    for r in out:
        if r["split"] != split_of(r["doc_id"]):
            v.failed += 1
            v.note(f"doc {r['doc_id']}: split {r['split']}, expected {split_of(r['doc_id'])}")
    for i in sorted(set(ids) - want):
        v.failed += 1
        v.note(f"doc {i}: survived but should have been removed")
    for i in sorted(want - set(ids)):
        v.failed += 1
        v.note(f"doc {i}: missing")
    return v
