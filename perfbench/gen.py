"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives the
same bytes, and :func:`digest` over those bytes is printed with each run
so two runs can be shown to have had the same inputs. Stream payloads are
serialised to bytes here, before any clock starts, so the open-loop
publisher only writes and renames files.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

# ---------------------------------------------------------------------------
# CloudTrail-like events (stream_stateful)

#: Distinct role keys; key frequency follows Zipf(ZIPF_S) over them.
N_ROLES = 3000
ZIPF_S = 1.1
ASSUME_ROLE_SHARE = 0.10
NO_MFA_SHARE = 0.30
N_PRINCIPALS = 400
_OTHER_EVENTS = ("GetObject", "PutObject", "DescribeInstances", "ListBuckets", "Decrypt")
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


@dataclass
class StreamInputs:
    """Pre-serialised stream inputs: ``backlog`` files are written before
    the query starts, ``live`` files are published one per tick (file
    numbers continue from the backlog's). ``events`` holds every event
    (backlog then live) as dicts, in event_id order, for the reference
    check; ``file_of[event_id]`` is the number of the file holding it."""

    warmup: list[bytes]
    backlog: list[bytes]
    live: list[bytes]
    events: list[dict] = field(repr=False)
    file_of: list[int] = field(repr=False)

    def digest(self) -> str:
        h = hashlib.sha256()
        for blob in itertools.chain(self.warmup, self.backlog, self.live):
            h.update(blob)
        return h.hexdigest()[:16]


def _serialise(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()


def _files(rows: list[dict], per_file: int) -> list[bytes]:
    return [_serialise(rows[i : i + per_file]) for i in range(0, len(rows), per_file)]


def cloudtrail_events(rng: random.Random, n: int, first_id: int) -> list[dict]:
    cum = _zipf_cum(N_ROLES, ZIPF_S)
    total = cum[-1]
    out = []
    for i in range(first_id, first_id + n):
        role = bisect.bisect_left(cum, rng.random() * total)
        assume = rng.random() < ASSUME_ROLE_SHARE
        ts = _EPOCH + timedelta(milliseconds=i)
        out.append(
            {
                "event_id": i,
                "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z",
                "role_id": f"AROA{role:05d}",
                "event_name": "AssumeRole" if assume else rng.choice(_OTHER_EVENTS),
                "principal": f"P{rng.randrange(N_PRINCIPALS):04d}",
                "mfa": "false" if rng.random() < NO_MFA_SHARE else "true",
            }
        )
    return out


# ---------------------------------------------------------------------------
# Certstream-like events (stream_stateless)

HEARTBEAT_SHARE = 0.15
WWW_SHARE = 0.3
_TLDS = ("com", "org", "net", "io", "dev")
_SUBS = ("mail", "api", "cdn", "shop", "blog", "vpn")


def cert_events(rng: random.Random, n: int, first_id: int) -> list[dict]:
    out = []
    for i in range(first_id, first_id + n):
        if rng.random() < HEARTBEAT_SHARE:
            out.append({"message_type": "heartbeat", "domains": [], "seen": i / 1000.0, "cert_index": i})
            continue
        base = f"d{rng.randrange(100_000):05d}.{rng.choice(_TLDS)}"
        domains = [base] + [f"{rng.choice(_SUBS)}.{base}" for _ in range(rng.randrange(3))]
        if rng.random() < WWW_SHARE:
            domains.insert(rng.randrange(len(domains) + 1), f"www.{base}")
        elif rng.random() < 0.1:
            # near-miss: "www" not at the start of the name
            domains.append(f"owww.{base}")
        out.append({"message_type": "certificate_update", "domains": domains, "seen": i / 1000.0, "cert_index": i})
    return out


#: files of the warm-up query each set-up runs before timing starts
WARMUP_FILES = 20


def stream_inputs(
    kind: str,
    seed: int,
    backlog_events: int,
    backlog_per_file: int,
    live_files: int,
    events_per_file: int,
    tick_s: float,
) -> StreamInputs:
    """Inputs for one stream run. The warm-up files are drawn from their
    own stream and hold ids no real event uses, so they never reach the
    check.

    Every event carries ``due_ms``, its file's due time as an offset from
    the start of its phase: 0 for the backlog (due when the query
    starts), ``i * tick_s`` for live file ``i``. The pipelines' schemas
    do not read it."""
    make = cloudtrail_events if kind == "cloudtrail" else cert_events
    rng = random.Random(seed)
    events = make(rng, backlog_events + live_files * events_per_file, first_id=0)
    n_back = -(-backlog_events // backlog_per_file)
    file_of = []
    for j, e in enumerate(events):
        live = j - backlog_events
        if live < 0:
            file_of.append(j // backlog_per_file)
            e["due_ms"] = 0
        else:
            file_of.append(n_back + live // events_per_file)
            e["due_ms"] = round(live // events_per_file * tick_s * 1000)
    warm = make(random.Random(seed ^ 0x5EED), WARMUP_FILES * backlog_per_file, first_id=10**9)
    return StreamInputs(
        warmup=_files(warm, backlog_per_file),
        backlog=_files(events[:backlog_events], backlog_per_file),
        live=_files(events[backlog_events:], events_per_file),
        events=events,
        file_of=file_of,
    )


# ---------------------------------------------------------------------------
# Curation corpus (curation_batch)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_FOREIGN = {
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "las", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}
N_SOURCES = 40
_SYLLABLES = ("ka", "lo", "mer", "tan", "vi", "sol", "pre", "quo", "den", "rus", "bel", "fin", "gor", "tis", "pla", "nex")


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))))
    return sorted(words)


@dataclass
class Corpus:
    """Documents plus the ground truth the generator planted.

    ``families`` maps a family id to the doc ids of one planted near-dup
    family (a base document and light edits of it)."""

    docs: list[dict] = field(repr=False)
    families: dict[int, list[int]] = field(repr=False)

    def digest(self) -> str:
        h = hashlib.sha256()
        for d in self.docs:
            h.update(f"{d['doc_id']}\x1f{d['source']}\x1f{d['lang']}\x1f{d['text']}\n".encode())
        return h.hexdigest()[:16]


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents over Zipf-weighted sources with mixed
    languages and lengths. Shares planted: ~6% exact copies, ~10% in
    near-dup families of 2-5 members, ~10% non-English, ~8% too short for
    the word-count gate, ~3% symbol spam, ~2% quoting a probe document
    (``doc_id % 97 == 0``) so decontamination has work."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    src_cum = _zipf_cum(N_SOURCES, 1.2)

    def words(n: int, lang: str) -> list[str]:
        marks = STOPWORDS if lang == "en" else _FOREIGN[lang]
        return [rng.choice(marks) if rng.random() < 0.12 else rng.choice(vocab) for _ in range(n)]

    docs: list[dict] = []
    families: dict[int, list[int]] = {}
    probe_texts: list[list[str]] = []
    while len(docs) < n_docs:
        doc_id = len(docs)
        source = f"src{bisect.bisect_left(src_cum, rng.random() * src_cum[-1]):02d}"
        r = rng.random()
        if r < 0.06 and docs:
            docs.append({**rng.choice(docs), "doc_id": doc_id})
            continue
        if r < 0.09 and len(docs) + 5 <= n_docs:
            base = words(rng.randint(60, 140), "en")
            fam = [doc_id]
            docs.append({"doc_id": doc_id, "source": source, "lang": "en", "text": " ".join(base)})
            for _ in range(rng.randint(1, 4)):
                edit = list(base)
                for _ in range(rng.randint(1, 2)):
                    edit[rng.randrange(len(edit))] = rng.choice(vocab)
                fam.append(len(docs))
                docs.append({"doc_id": len(docs), "source": source, "lang": "en", "text": " ".join(edit)})
            families[len(families)] = fam
            continue
        lang = "en"
        if r < 0.19:
            lang = rng.choice(sorted(_FOREIGN))
        n_words = rng.randint(60, 260) if rng.random() > 0.08 else rng.randint(8, 45)
        w = words(n_words, lang)
        if rng.random() < 0.03:
            w = [x + " #" if rng.random() < 0.3 else x for x in w]
        if probe_texts and rng.random() < 0.02:
            src = rng.choice(probe_texts)
            at = rng.randrange(len(w))
            w[at:at] = src[:6]
        text = " ".join(w)
        docs.append({"doc_id": doc_id, "source": source, "lang": lang, "text": text})
        if doc_id % 97 == 0:
            probe_texts.append(text.split(" "))
    return Corpus(docs=docs, families=families)
