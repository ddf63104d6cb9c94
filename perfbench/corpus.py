"""Seeded transcript corpora with planted truth, owned by the benchmark.

The engine only ever sees the transcripts parquet written here; the
truth (expected triples, entity families, decoys) is derived from
construction and kept beside it. Nothing is imported from the engine,
so a change to the engine's own synthetic corpus cannot move a
workload.

Every planted span is written so that exactly one extraction rule
matches it and the filler text matches none, which makes the expected
triples exact. Entity surfaces come in planted families whose members
are near-duplicates (gram Jaccard >= 0.5 to the family base) and, for
the vocabulary corpus, decoys derived from a family base whose Jaccard
to every family member sits just under the 0.4 linking threshold.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import string
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "exec", "read_file", "browse")

# lowercase words that match no extraction rule, alone or in runs
FILLER = (
    "pipeline ran fine and results look stable across partitions we should "
    "compare throughput before merging this change latency stayed flat "
    "during the test window yesterday shuffle volume dropped after tuning "
    "partition counts most land in two buckets so salting helps here output "
    "matched on both engines after rounding fixes queue drained early "
    "cluster warmed slowly cache stayed warm writer finished batch landed "
    "table grew steady state held"
).split()

_SYLLABLES = (
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi mo "
    "mu na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu va ve vi "
    "vo vu za ze zi zo zu"
).split()
HANDLE_LEN = 16
HANDLE_ALPHABET = string.ascii_lowercase[:20]

TRANSCRIPTS_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])
TRIPLES_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("pred", pa.string()),
    ("obj", pa.string()), ("rule_id", pa.string()),
])
_T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def grams(surface: str) -> set[str]:
    """Character 3-grams of a surface after the linker's normalization
    (lower, drop '@', '-'/'_' to space, squeeze spaces, pad with one
    space each side)."""
    s = " ".join(surface.lower().replace("@", "").replace("-", " ")
                 .replace("_", " ").split())
    p = f" {s} "
    return {p[i:i + 3] for i in range(max(len(p) - 2, 1))}


def jaccard(a: str, b: str) -> float:
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


@dataclass
class Slice:
    """One set of whole conversations: a parquet file's worth of turns
    plus the triples planted in them."""

    turns: list[tuple] = field(default_factory=list)
    triples: list[tuple] = field(default_factory=list)

    @property
    def n_turns(self) -> int:
        return len(self.turns)


@dataclass
class Corpus:
    slices: list[Slice]
    families: list[list[str]]
    decoys: list[str]  # surfaces that must each stay an entity of their own
    hot_surface: str | None = None


class _Turn:
    def __init__(self, conv_id: str, turn_idx: int) -> None:
        self.conv_id, self.turn_idx = conv_id, turn_idx
        self.parts: list[str] = []
        self.planted: list[tuple] = []

    def filler(self, rng: random.Random, n: int) -> None:
        self.parts.append(" ".join(rng.choice(FILLER) for _ in range(n)) + ". ")

    def plant(self, text: str, pred: str, obj: str, rule_id: str) -> None:
        self.parts.append(text)
        self.planted.append((self.conv_id, self.turn_idx, pred, obj, rule_id))


def _word(rng: random.Random, n_syll: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n_syll))


def _phrase(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(FILLER) for _ in range(n))


def _plant_random(t: _Turn, rng: random.Random, role: str,
                  tickets: list[str]) -> None:
    """One span that exactly one rule captures; `obj` is the capture.
    Ticket ids are class mentions, so they come from a small fixed set."""
    kind = rng.randrange(14)
    if kind == 0:
        fn = _word(rng, 2) + "_" + _word(rng, 2)
        t.plant(f"then ran {fn}(). ", "call", f"{fn}()", "call.paren")
    elif kind == 1:
        ident = rng.choice(("spark.sql", "conv_id", "turn_idx", "map_rows")) + _word(rng, 1)
        t.plant(f"see `{ident}`. ", "function", ident, "function.backtick")
    elif kind == 2:
        url = f"https://{_word(rng, 2)}-docs.example"
        t.plant(f"docs at {url}. ", "import", url, "import.url")
    elif kind == 3:
        path = f"/data/{_word(rng, 2)}/{_word(rng, 3)}"
        t.plant(f"wrote to {path}. ", "import", path, "import.path")
    elif kind == 4:
        lit = _phrase(rng, 3)
        t.plant(f'flag set to "{lit}". ', "data", lit, "data.quoted")
    elif kind == 5:
        clause = "if " + _phrase(rng, rng.randrange(2, 5))
        t.plant(f"retry {clause}. ", "logic", clause, "logic.cond")
    elif kind == 6 and tickets:
        tick = rng.choice(tickets)
        t.plant(f"filed {tick}. ", "class", tick, "class.ticket")
    elif kind == 7:
        name = _word(rng, 2) + "_" + _word(rng, 1)
        t.plant(f"snippet def {name}(x): ok. ", "function", name, "function.def")
    elif kind == 8:
        mod = "import " + _word(rng, 2) + "." + _word(rng, 2)
        t.plant(f"then {mod} ok. ", "import", mod, "import.module")
    elif kind == 9 and role == "assistant":
        mark = "tool:" + _word(rng, 2)
        t.plant(f"via {mark}. ", "call", mark, "call.tool_marker")
    elif kind == 10:
        qty = f"{rng.randrange(1, 9999)} " + rng.choice(("ms", "gb", "rows"))
        t.plant(f"took {qty}. ", "data", qty, "data.measure")
    elif kind == 11:
        ver = f"v{rng.randrange(1, 20)}.{rng.randrange(10)}.{rng.randrange(10)}"
        t.plant(f"bumped to {ver}. ", "data", ver, "data.version")
    elif kind == 12:
        neg = "not " + _phrase(rng, rng.randrange(2, 4))
        t.plant(f"careful {neg}. ", "logic", neg, "logic.negation")
    else:
        t.filler(rng, 4)


def _entity(t: _Turn, surface: str) -> None:
    if surface.startswith("@"):
        t.plant(f"ping {surface}. ", "class", surface, "class.handle")
    else:
        t.plant(f"met with {surface}. ", "class", surface, "class.titlecase")


def _kv_lines(t: _Turn, rng: random.Random) -> None:
    lines = [f"{rng.choice(('status', 'elapsed', 'exitcode', 'bytesout'))}"
             f"={rng.randrange(100000)}" for _ in range(rng.randrange(2, 5))]
    t.parts.append("\n")
    t.parts.append("\n".join(lines))
    for line in lines:
        t.planted.append((t.conv_id, t.turn_idx, "data", line, "data.kv"))


def _finish(sl: Slice, t: _Turn, role: str, conv_no: int) -> None:
    tool = TOOLS[conv_no % 4] if role == "tool" else None
    ts = _T0 + dt.timedelta(seconds=conv_no * 3600 + t.turn_idx * 60)
    sl.turns.append((t.conv_id, t.turn_idx, role, "".join(t.parts), tool, ts))
    sl.triples.extend(t.planted)


def _titlecase_families(rng: random.Random, n: int) -> list[list[str]]:
    """n three-surface families: 'Foo Bar', 'Foo Bars', '@foo-bar'. Any
    two surfaces of different families stay under Jaccard 0.3."""
    fams: list[list[str]] = []
    while len(fams) < n:
        a, b = _word(rng, 3).capitalize(), _word(rng, 3).capitalize()
        fam = [f"{a} {b}", f"{a} {b}s", f"@{a.lower()}-{b.lower()}"]
        if all(jaccard(x, y) < 0.3 for f in fams for x in f for y in fam):
            fams.append(fam)
    return fams


def dense_corpus(seed: int, n_slices: int, turns_per_slice: int) -> Corpus:
    """Many turns with several planted spans each, a vocabulary of a few
    dozen entity surfaces (12 families plus six ticket ids that must stay
    apart), and one hot surface planted in 8% of turns on top of its
    random mentions. Slices hold disjoint conversations of about equal
    size."""
    rng = random.Random(seed)
    fams = _titlecase_families(rng, 12)
    hot = fams[0][0]
    ents = [s for f in fams for s in f]
    tickets: list[str] = []
    while len(tickets) < 6:
        tick = "".join(rng.choice(string.ascii_uppercase) for _ in range(4))
        tick += f"-{rng.randrange(100, 9999)}"
        if all(jaccard(tick, x) < 0.3 for x in ents + tickets):
            tickets.append(tick)
    slices, conv_no = [], 0
    for k in range(n_slices):
        sl = Slice()
        while sl.n_turns < turns_per_slice:
            conv_id = f"d{seed}-{k:02d}-{conv_no:07d}"
            for ti in range(rng.randrange(4, 13)):
                role = ROLES[(conv_no + ti) % 4]
                t = _Turn(conv_id, ti)
                t.filler(rng, rng.randrange(3, 8))
                for _ in range(rng.randrange(2, 6)):
                    _plant_random(t, rng, role, tickets)
                if rng.random() < 0.5:
                    _entity(t, rng.choice(ents))
                if rng.random() < 0.08:
                    _entity(t, hot)
                t.filler(rng, rng.randrange(2, 5))
                if role == "tool" and rng.random() < 0.7:
                    _kv_lines(t, rng)
                _finish(sl, t, role, conv_no)
            conv_no += 1
        slices.append(sl)
    return Corpus(slices, fams, tickets, hot)


def _handle(rng: random.Random, n: int, alphabet: str) -> str:
    return "@" + rng.choice(string.ascii_lowercase) + "".join(
        rng.choice(alphabet) for _ in range(n - 1))


def _substitute(rng: random.Random, s: str, positions: list[int], alphabet: str) -> str:
    cs = list(s)
    for p in positions:
        cs[p] = rng.choice([c for c in alphabet if c != cs[p]])
    return "".join(cs)


def _handle_family(rng: random.Random, n: int, alphabet: str) -> tuple[list[str], str]:
    """A base handle, a one-substitution variant, a '-'-split variant
    (all >= 0.5 Jaccard to the base) and a decoy with a few
    substitutions whose Jaccard to every member lies in [0.25, 0.4)."""
    mid = range(n // 3 + 1, 2 * n // 3 + 1)
    while True:
        base = _handle(rng, n, alphabet)
        v1 = _substitute(rng, base, [rng.choice(mid)], alphabet)
        cut = rng.choice(mid)
        fam = [base, v1, base[:cut] + "-" + base[cut:]]
        if min(jaccard(base, v) for v in fam[1:]) < 0.5:
            continue
        for _ in range(50):
            pos = sorted(rng.sample(range(2, n + 1), rng.choice((2, 3, 4))))
            decoy = _substitute(rng, base, pos, alphabet)
            if 0.25 <= max(jaccard(decoy, m) for m in fam) < 0.4:
                return fam, decoy


def vocab_corpus(seed: int, n_slices: int, surfaces_per_slice: int) -> Corpus:
    """Few turns, eight class mentions each, of @handles drawn from a
    large, high-entropy vocabulary (HANDLE_LEN characters over 20
    letters: about 8k distinct 3-grams, so surfaces share grams the way
    names in one language do): per slice, a quarter of the new surfaces
    belong to planted three-surface families, a twelfth are decoys, the
    rest are singletons. Each new surface is mentioned one to three
    times, and each slice also re-mentions some earlier surfaces."""
    length, alphabet, per_turn = HANDLE_LEN, HANDLE_ALPHABET, 8
    rng = random.Random(seed)
    fams: list[list[str]] = []
    decoys: list[str] = []
    seen: list[str] = []
    slices, conv_no = [], 0
    for k in range(n_slices):
        new: list[str] = []
        n_fam = surfaces_per_slice // 12
        for _ in range(n_fam):
            fam, decoy = _handle_family(rng, length, alphabet)
            fams.append(fam)
            decoys.append(decoy)
            new += fam + [decoy]
        while len(new) < surfaces_per_slice:
            new.append(_handle(rng, length, alphabet))
        mentions = [s for s in new for _ in range(rng.randrange(1, 4))]
        mentions += rng.sample(seen, min(len(seen), len(new) // 4))
        rng.shuffle(mentions)
        sl = Slice()
        i = 0
        while i < len(mentions):
            conv_id = f"v{seed}-{k:02d}-{conv_no:07d}"
            for ti in range(rng.randrange(2, 5)):
                if i >= len(mentions):
                    break
                role = ROLES[(conv_no + ti) % 4]
                t = _Turn(conv_id, ti)
                t.filler(rng, 3)
                for s in mentions[i:i + per_turn]:
                    _entity(t, s)
                i += per_turn
                _finish(sl, t, role, conv_no)
            conv_no += 1
        seen += new
        slices.append(sl)
    return Corpus(slices, fams, decoys, None)


def write_rows(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    """One parquet file of `rows` (tuples in `schema`'s column order)."""
    cols = list(zip(*rows))
    pq.write_table(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema), path)


def write_split(turns: list[tuple], out_dir: str, n_files: int) -> None:
    """Write turns as `n_files` parquet files of whole conversations, so
    the scan splits evenly across task slots."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(turns)
    cuts = [n * i // n_files for i in range(n_files + 1)]
    # move each cut forward to a conversation boundary
    for i in range(1, n_files):
        c = cuts[i]
        while 0 < c < n and turns[c][0] == turns[c - 1][0]:
            c += 1
        cuts[i] = max(c, cuts[i - 1])
    for i in range(n_files):
        if cuts[i] < cuts[i + 1]:
            write_rows(turns[cuts[i]:cuts[i + 1]], TRANSCRIPTS_SCHEMA,
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
