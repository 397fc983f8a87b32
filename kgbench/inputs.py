"""Seeded input generators for the KG-linker benchmark.

Every generator is a pure function of its seed: no wall clock, no global
RNG.  Two corpora feed the workloads:

* ``link_heavy_corpus`` — a generated vocabulary of ~4.5k standard
  concepts with unique three-token names, a lexicon of 1-3 surface forms
  per concept (exact name, word reorder, typo; a few hub concepts carry
  many forms) and transcripts that draw mentions uniformly.  The expected
  edge of every surface form is known by construction:

  - two distinct three-token sets share at most two tokens, so any wrong
    candidate scores token Jaccard <= 2/4 and confidence <= 6, below the
    default accept threshold of 8;
  - an exact name embeds to its own concept's vector, so retrieval ranks
    that concept first and the reranker accepts it with confidence 10;
  - a reorder has the same token set (confidence 10) and keeps most of the
    name's character 3-grams, so it retrieves its concept;
  - a typo replaces one token, so its best score is 2/4: never accepted.

* ``fixture_corpus`` — the package's fixture vocabulary and lexicon
  (``fixtures/vocabulary.py``) and its transcript generator
  (``fixtures/transcripts.py``, 45 % hot mentions), plus a reserved pool of
  standard-concept names that never occur in the base transcripts.

Both corpora also produce fold deltas: a *known* delta carries only
mentions the base already holds, a *novel* delta adds a fixed number of
never-seen surface forms drawn from the corpus's reserved pool.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from itertools import count
from datetime import date, datetime, timedelta, timezone

import pandas as pd

VALID_START = date(1970, 1, 1)
VALID_END = date(2099, 12, 31)
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
FIXTURE_VOCAB_SEED = 42  # the fixture vocabulary and lexicon are fixed
LINK_HEAVY_CONCEPTS = 4_500
LINK_HEAVY_TURNS = 30_000
HUB_SHARE = 0.01  # share of link_heavy concepts that carry many forms
RESERVED_CONCEPTS = 64  # link_heavy concepts kept out of the base
FIXTURE_CONVERSATIONS = 2_000  # fold_stream's base
DELTA_TURNS = 140  # turns per fold delta
NOVEL_PER_FOLD = 8  # never-seen forms per novel fold

_CONSONANTS = "bdfghklmnprstvz"
_VOWELS = "aeiou"
_FILLERS = [
    "please review the chart notes",
    "follow up visit scheduled next month",
    "vitals were within expected limits",
    "no new complaints were voiced today",
    "will continue current plan unchanged",
    "summary sent to the referring office",
]
_TEMPLATES = [
    "Patient reports {m} during the visit.",
    "Assessment notes {m} ongoing.",
    "Plan: monitor {m} closely.",
    "History significant for {m}.",
]
TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@dataclass
class Corpus:
    """One workload's inputs as plain Python rows.

    ``truth`` maps every lexicon surface form to the concept_id it must be
    linked to, or None when it must not be accepted; it is empty for the
    fixture corpus, whose checks compare against other oracles.
    """

    name: str
    seed: int
    concept_rows: list
    relationship_rows: list
    ancestor_rows: list
    lexicon: list[dict]
    truth: dict[str, int | None]
    reserved: list[str]
    n_base_conversations: int
    known_forms: list[str]  # the forms known deltas draw from
    base_rows: pd.DataFrame | None = None  # None: generated on executors


# ------------------------------------------------------------ link_heavy
def _token_pool(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct six-letter consonant-vowel tokens.  The shape never
    matches an English word of the templates or fillers, and a typo (last
    vowel replaced by ``x``) never matches a pool token."""
    seen: set[str] = set()
    while len(seen) < n:
        seen.add(
            "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(3))
        )
    return sorted(seen)


def _typo(tokens: tuple[str, ...], pos: int) -> str:
    toks = list(tokens)
    toks[pos] = toks[pos][:-1] + "x"
    return " ".join(toks)


def _reorders(tokens: tuple[str, ...]) -> list[str]:
    a, b, c = tokens
    return [" ".join(p) for p in [(b, c, a), (c, a, b), (a, c, b), (b, a, c), (c, b, a)]]


def link_heavy_corpus(
    seed: int, n_concepts: int = LINK_HEAVY_CONCEPTS, n_turns: int = LINK_HEAVY_TURNS
) -> Corpus:
    rng = random.Random(f"link_heavy:{seed}")
    pool = _token_pool(rng, (3 * n_concepts) // 2)
    token_sets: set[frozenset] = set()
    names: list[tuple[str, ...]] = []
    while len(names) < n_concepts:
        toks = tuple(rng.sample(pool, 3))
        key = frozenset(toks)
        if key in token_sets:
            continue
        token_sets.add(key)
        names.append(toks)

    concept_rows = []
    for i, toks in enumerate(names):
        concept_rows.append(
            (
                100_000 + i, " ".join(toks), "Condition", "SNOMED",
                "Clinical Finding", "S", str(500_000 + i),
                VALID_START, VALID_END, None,
            )
        )

    truth: dict[str, int | None] = {}
    order = list(range(n_concepts))
    rng.shuffle(order)
    reserved_ids = set(order[:RESERVED_CONCEPTS])
    hubs = set(order[RESERVED_CONCEPTS : RESERVED_CONCEPTS + int(HUB_SHARE * n_concepts)])
    reserved: list[str] = []
    for i, toks in enumerate(names):
        cid = 100_000 + i
        exact = " ".join(toks)
        if i in reserved_ids:
            # reserved concepts: exact name only, never in base transcripts
            reserved.append(exact)
            truth[exact] = cid
            continue
        if i in hubs:
            forms = [(exact, cid)] + [(r, cid) for r in _reorders(toks)]
            forms += [(_typo(toks, p), None) for p in range(3)]
        else:
            kinds = rng.sample(["exact", "reorder", "typo"], rng.randint(1, 3))
            forms = []
            for kind in kinds:
                if kind == "exact":
                    forms.append((exact, cid))
                elif kind == "reorder":
                    forms.append((rng.choice(_reorders(toks)), cid))
                else:
                    forms.append((_typo(toks, rng.randrange(3)), None))
        for form, target in forms:
            # two typos of different concepts can coincide; both are
            # rejected, so the merged entry keeps None
            truth[form] = target if form not in truth else (truth[form] and target)
    reserved.sort()
    rng.shuffle(reserved)
    reserved_set = set(reserved)
    used: set[str] = set()
    forms = sorted(f for f in truth if f not in reserved_set)
    rows = _take_turns(
        lambda i, cap: _uniform_conversation(f"lh:{seed}", i, forms, used, cap),
        0, n_turns,
    )
    return Corpus(
        name="link_heavy",
        seed=seed,
        concept_rows=concept_rows,
        relationship_rows=[],
        ancestor_rows=[],
        lexicon=[{"mention_text": f, "is_drug": False} for f in sorted(truth)],
        truth=truth,
        reserved=reserved,
        n_base_conversations=len({r[0] for r in rows}),
        # known deltas draw only from forms the base already mentions
        known_forms=sorted(used),
        base_rows=transcript_frame(rows),
    )


def _uniform_conversation(
    tag: str, conv_i: int, forms: list[str], used: set | None = None,
    max_turns: int | None = None,
) -> list[tuple]:
    """Conversation ``conv_i`` with mentions drawn uniformly from
    ``forms``, cut to its first ``max_turns`` turns; its rng is keyed by the
    ordinal, so any conversation regenerates identically.  Forms of the
    turns kept are added to ``used``."""
    rng = random.Random(f"{tag}:{conv_i}")
    conv_id = f"conv-{conv_i:07d}"
    rows = []
    for turn_idx in range(rng.randint(2, 12)):
        role = "user" if turn_idx % 2 == 0 else "assistant"
        parts = [rng.choice(_FILLERS)]
        drawn = [rng.choice(forms) for _ in range(rng.choice([0, 1, 1, 2, 2, 3]))]
        parts += [rng.choice(_TEMPLATES).format(m=form) for form in drawn]
        parts.append(rng.choice(_FILLERS))
        if max_turns is not None and turn_idx >= max_turns:
            continue  # keep drawing, so kept turns do not depend on the cut
        if used is not None:
            used.update(drawn)
        ts = _EPOCH + timedelta(seconds=conv_i * 60 + turn_idx)
        rows.append((conv_id, turn_idx, role, " ".join(parts), None, ts))
    return rows


def _take_turns(make_conversation, start: int, n_turns: int) -> list[tuple]:
    """``n_turns`` turns of the conversations ``start``, ``start + 1``, ...,
    the last one cut short, so that the turn count does not vary with the
    seed.  ``make_conversation(ordinal, max_turns)`` yields one's rows."""
    rows: list[tuple] = []
    for conv_i in count(start):
        rows.extend(make_conversation(conv_i, n_turns - len(rows)))
        if len(rows) == n_turns:
            return rows


def transcript_frame(rows: list[tuple]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=TRANSCRIPT_COLUMNS)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    return pdf


def expected_edges(corpus: Corpus, forms) -> dict[str, int]:
    """Designed truth for a build whose transcripts mention ``forms``:
    every accepted form among them, mapped to its concept."""
    return {f: corpus.truth[f] for f in forms if corpus.truth.get(f) is not None}


# --------------------------------------------------------------- fixture
def fixture_corpus(seed: int, n_conversations: int = FIXTURE_CONVERSATIONS) -> Corpus:
    from omop_concept_automapper_spark.fixtures.transcripts import (
        _FILLERS as _FX_FILLERS,
        _TEMPLATES as _FX_TEMPLATES,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import (
        build_lexicon,
        build_mini_vocab,
    )

    vocab = build_mini_vocab(FIXTURE_VOCAB_SEED)
    lexicon = build_lexicon(FIXTURE_VOCAB_SEED)
    forms = [e["mention_text"] for e in lexicon]
    lowered = [f.lower() for f in forms]
    std = sorted(
        name
        for (_cid, name, domain, _v, cls, std_flag, *_r) in vocab.concept_rows
        if std_flag == "S" and domain != "Drug"
        and "box" not in cls.lower() and "marketed" not in cls.lower()
    )
    # reserved pool: standard names absent from the lexicon that neither
    # contain nor occur inside any lexicon form or any filler or template
    # text of the fixture generator, so base and known-delta turns can
    # never match them
    text_bits = lowered + [f.lower() for f in _FX_FILLERS] + [
        bit.strip(" .").lower()
        for tpl in _FX_TEMPLATES
        for bit in tpl.split("{m}")
        if bit.strip(" .")
    ]
    reserved = [
        n for n in std
        if n.lower() not in lowered
        and not any(n.lower() in b or b in n.lower() for b in text_bits)
    ]
    # the pool keeps one order for every seed: a novel fold's merge work
    # depends on how many edge and node buckets its forms land in, and a
    # seed-drawn set of forms moved that (and the fold's time) by ~40 %
    return Corpus(
        name="fixture",
        seed=seed,
        concept_rows=vocab.concept_rows,
        relationship_rows=vocab.relationship_rows,
        ancestor_rows=vocab.ancestor_rows,
        lexicon=lexicon + [{"mention_text": n, "is_drug": False} for n in reserved],
        truth={},
        reserved=reserved,
        n_base_conversations=n_conversations,
        known_forms=forms,
    )


# ----------------------------------------------------------------- folds
def delta_rows(corpus: Corpus, fold_i: int, novel_i: int | None = None) -> pd.DataFrame:
    """The ``fold_i``-th delta batch: ``DELTA_TURNS`` turns of new
    conversations (ids disjoint from the base and from every other fold)
    carrying known mentions only.  The ``novel_i``-th novel delta also
    carries ``NOVEL_PER_FOLD`` never-seen forms from the reserved pool,
    each in one extra two-turn conversation of its own."""
    # a conversation has at least two turns, so a delta spans at most
    # DELTA_TURNS // 2 conversation ordinals
    start = corpus.n_base_conversations + fold_i * (DELTA_TURNS // 2)
    if corpus.name == "fixture":
        from omop_concept_automapper_spark.fixtures.transcripts import _conv_rows

        def make(i, cap):
            return _conv_rows(i, corpus.seed, corpus.known_forms)[:cap]
    else:
        def make(i, cap):
            return _uniform_conversation(
                f"lh:{corpus.seed}", i, corpus.known_forms, max_turns=cap
            )
    rows = _take_turns(make, start, DELTA_TURNS)
    if novel_i is not None:
        for j, form in enumerate(novel_forms(corpus, novel_i)):
            conv_id = f"novel-{fold_i:04d}-{j}"
            ts = _EPOCH + timedelta(days=400 + fold_i, seconds=2 * j)
            rows.append(
                (conv_id, 0, "user", f"Patient reports {form} during the visit.", None, ts)
            )
            rows.append(
                (conv_id, 1, "assistant", f"Plan: monitor {form} closely.", None,
                 ts + timedelta(seconds=1))
            )
    return transcript_frame(rows)


def novel_forms(corpus: Corpus, novel_i: int) -> list[str]:
    """Reserved forms of the ``novel_i``-th novel fold; each form is used
    by exactly one fold, so every novel fold links never-seen mentions."""
    k = NOVEL_PER_FOLD
    lo = novel_i * k
    if lo + k > len(corpus.reserved):
        raise ValueError(
            f"reserved pool of {len(corpus.reserved)} forms exhausted at novel fold {novel_i}"
        )
    return corpus.reserved[lo : lo + k]
