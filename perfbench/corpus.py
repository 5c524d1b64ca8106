"""Seeded Lovdata-shaped XML corpus and the v1 -> v2 change set.

Builds the four document families of FIXTURES.md (F1 standard laws,
F2 change laws, F3 simple laws, F4 laws with lists) with cross-refs,
plus the edge cases the pipeline must handle: oversize ledds that force
the sentence-overlap splitter, sub-minimum ledds that the merge pass
folds together, empty laws (zero chunks) and malformed documents
(poison). Files are laid out as ``<root>/<dataset>/<doc_id>.xml``, the
layout ``read_xml_corpus`` expects.

Everything derives from ``random.Random(seed)``: the same seed gives the
same bytes.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

DATASETS = ("gjeldende-lover", "gjeldende-sentrale-forskrifter")

_WORDS = (
    "loven forskriften departementet kommunen staten retten plikten "
    "virksomheten arbeidsgiveren arbeidstakeren eieren tilsynet vedtaket "
    "søknaden klagen fristen tillatelsen registeret opplysningene "
    "behandlingen saken avgjørelsen organet myndigheten skal kan må ikke "
    "etter denne paragrafen første andre ledd gjelder for med av til om "
    "som når det den er ved fra innen særlige tilfeller bestemmelser "
    "gjennomføring tilsyn kontroll sanksjoner gebyr erstatning ansvar "
    "personer foretak eiendom grunn bygning anlegg område miljø helse "
    "sikkerhet opplæring dokumentasjon rapportering"
).split()

ENVELOPE = """<?xml version="1.0" encoding="UTF-8"?>
<!DOCTYPE html>
<html lang="no">
<head><title>{title}</title></head>
<body>
<main class="documentBody" id="dokument">
<h1>{title}</h1>
{body}
</main>
</body>
</html>
"""

#: family weights among healthy documents (empty, malformed and oversize
#: documents are planted separately, see ``make_corpus``)
_FAMILIES = (("standard", 0.55), ("change", 0.15), ("simple", 0.15), ("list", 0.15))


@dataclass
class Corpus:
    """Document id -> (dataset, xml text), plus the planted edge cases."""

    docs: dict[str, tuple[str, str]] = field(default_factory=dict)
    malformed: set[str] = field(default_factory=set)
    empty: set[str] = field(default_factory=set)

    def write(self, root: str) -> int:
        """Write every document under ``root`` (replacing it); returns bytes."""
        shutil.rmtree(root, ignore_errors=True)
        total = 0
        for ds in DATASETS:
            os.makedirs(os.path.join(root, ds), exist_ok=True)
        for doc_id, (ds, xml) in self.docs.items():
            data = xml.encode("utf-8")
            with open(os.path.join(root, ds, f"{doc_id}.xml"), "wb") as fh:
                fh.write(data)
            total += len(data)
        return total

    def healthy(self) -> list[str]:
        """Ids that chunk into at least one chunk, in a stable order."""
        bad = self.malformed | self.empty
        return sorted(d for d in self.docs if d not in bad)


@dataclass
class ChangeSet:
    """The v1 -> v2 edits and the PipelineResult they must produce."""

    modified: list[str]
    removed: list[str]
    added: list[str]
    poison_fixed: str
    poisoned: str
    emptied: str
    still_failed: list[str]

    @property
    def expected(self) -> dict[str, int]:
        return {
            "processed": len(self.modified) + len(self.added) + 2,
            "failed": len(self.still_failed) + 1,
            "removed": len(self.removed),
        }

    @property
    def changed_ids(self) -> set[str]:
        return set(
            self.modified + self.removed + self.added
            + [self.poison_fixed, self.poisoned, self.emptied]
        )


def sha256_hex(xml: str) -> str:
    """The hash ``read_xml_corpus`` computes over the file bytes."""
    return hashlib.sha256(xml.encode("utf-8")).hexdigest()


class _Writer:
    def __init__(self, rng: random.Random):
        self.rng = rng

    def sentence(self, lo: int = 6, hi: int = 16) -> str:
        words = [self.rng.choice(_WORDS) for _ in range(self.rng.randint(lo, hi))]
        words[0] = words[0].capitalize()
        return " ".join(words) + "."

    def text(self, n_sent: int) -> str:
        return " ".join(self.sentence() for _ in range(n_sent))

    def crossref(self) -> str:
        year = self.rng.randint(1950, 2024)
        para = self.rng.randint(1, 80)
        return f'<a href="/lov/{year}-06-{self.rng.randint(10, 28)}-{para}/§{para}">lov {year} § {para}</a>'

    def ledd_body(self, n_sent: int) -> str:
        body = self.text(n_sent)
        if self.rng.random() < 0.25:
            body += f" Se {self.crossref()}."
        return body


def _standard(w: _Writer, law: str, oversize: bool) -> str:
    chapters = []
    para = 0
    n_chapters = w.rng.randint(2, 5)
    big_at = (w.rng.randrange(n_chapters), 0) if oversize else None
    for c in range(n_chapters):
        articles = []
        for a in range(w.rng.randint(2, 6)):
            para += 1
            title = (
                f'<span class="legalArticleTitle">{w.sentence(1, 3)[:-1]}</span>'
                if w.rng.random() < 0.85
                else ""
            )
            ledds = []
            for n in range(1, w.rng.randint(1, 4) + 1):
                # most ledds sit far below min_tokens, so the merge pass
                # folds them; a planted oversize ledd (~8k tokens) forces
                # the sentence-overlap splitter
                big = big_at == (c, a) and n == 1
                body = w.text(420) if big else w.ledd_body(w.rng.randint(1, 7))
                ledds.append(
                    f'<article class="legalP" id="paragraf-{para}-ledd-{n}" '
                    f'data-absoluteaddress="/{law}/§{para}/ledd{n}">{body}</article>'
                )
            articles.append(
                f'<article class="legalArticle" data-lovdata-URL="NL/{law}/§{para}" '
                f'id="paragraf-{para}"><h2 class="legalArticleHeader">'
                f'<span class="legalArticleValue">§ {para}</span>{title}</h2>'
                + "".join(ledds)
                + "</article>"
            )
        chapters.append(
            f'<section class="section"><h2>Kapittel {c + 1}. {w.sentence(1, 3)[:-1]}</h2>'
            + "".join(articles)
            + "</section>"
        )
    return "\n".join(chapters)


def _change(w: _Writer, law: str) -> str:
    sections = []
    for s in range(w.rng.randint(2, 4)):
        ps = "".join(
            f'<article class="legalP" id="change-{s}-{i}">{w.ledd_body(w.rng.randint(1, 6))}</article>'
            for i in range(w.rng.randint(2, 8))
        )
        sections.append(f'<section class="section"><h2>{"I" * (s + 1)}</h2>{ps}</section>')
    return "\n".join(sections)


def _simple(w: _Writer, law: str) -> str:
    return "\n".join(
        f'<article class="legalP" id="ledd-{i}" data-absoluteaddress="/{law}/ledd{i}">'
        f"{w.text(w.rng.randint(1, 8))}</article>"
        for i in range(1, w.rng.randint(2, 9))
    )


def _list(w: _Writer, law: str) -> str:
    articles = []
    for para in range(1, w.rng.randint(2, 5) + 1):
        items = "".join(
            f'<li data-name="{chr(97 + i)})">{w.sentence(3, 10)}</li>'
            for i in range(w.rng.randint(2, 6))
        )
        articles.append(
            f'<article class="legalArticle" data-lovdata-URL="NL/{law}/§{para}" '
            f'id="paragraf-{para}"><h2 class="legalArticleHeader">'
            f'<span class="legalArticleValue">§ {para}</span></h2>'
            f'<article class="legalP" id="paragraf-{para}-ledd-1">{w.sentence()} '
            f'Loven gjelder for:<ol>{items}</ol>'
            f'<p class="leddfortsettelse">{w.sentence()}</p></article>'
            f'<article class="legalP" id="paragraf-{para}-ledd-2">{w.ledd_body(2)}</article>'
            "</article>"
        )
    return '<section class="section"><h2>Kapittel 1</h2>' + "".join(articles) + "</section>"


def _law(w: _Writer, doc_id: str, family: str, oversize: bool = False) -> str:
    law = f"lov/{doc_id}"
    title = f"Lov om {w.sentence(2, 5)[:-1].lower()}"
    if family == "empty":
        body = ""
    elif family == "change":
        body = _change(w, law)
    elif family == "simple":
        body = _simple(w, law)
    elif family == "list":
        body = _list(w, law)
    else:
        body = _standard(w, law, oversize)
    return ENVELOPE.format(title=title, body=body)


def _malformed(w: _Writer, doc_id: str) -> str:
    return f"this is << not XML at all >> {doc_id} {w.sentence()}"


def _pick_family(rng: random.Random) -> str:
    x, acc = rng.random(), 0.0
    for name, weight in _FAMILIES:
        acc += weight
        if x < acc:
            return name
    return _FAMILIES[-1][0]


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """v1: ``n_docs`` documents, ~3% with an oversize ledd, ~2% empty
    laws and ~2% malformed (at least two of each)."""
    rng = random.Random(seed)
    w = _Writer(rng)
    ids = [f"LOV-{seed % 1000:03d}-{i:05d}" for i in range(n_docs)]
    order = ids[:]
    rng.shuffle(order)
    n_edge = max(2, round(0.02 * n_docs))
    n_big = max(2, round(0.03 * n_docs))
    malformed = set(order[:n_edge])
    empty = set(order[n_edge : 2 * n_edge])
    oversize = set(order[2 * n_edge : 2 * n_edge + n_big])
    corpus = Corpus(malformed=malformed, empty=empty)
    for i, doc_id in enumerate(ids):
        ds = DATASETS[i % len(DATASETS)]
        if doc_id in malformed:
            xml = _malformed(w, doc_id)
        elif doc_id in empty:
            xml = _law(w, doc_id, "empty")
        elif doc_id in oversize:
            xml = _law(w, doc_id, "standard", oversize=True)
        else:
            xml = _law(w, doc_id, _pick_family(rng))
        corpus.docs[doc_id] = (ds, xml)
    return corpus


def make_v2(v1: Corpus, seed: int) -> tuple[Corpus, ChangeSet]:
    """v2 of ``v1``: ~5% modified, ~1% removed, ~1% added, one poison
    document fixed, one processed document turned poison, and one
    processed document emptied to zero chunks."""
    rng = random.Random(seed * 7919 + 1)
    w = _Writer(rng)
    n = len(v1.docs)
    healthy = v1.healthy()
    rng.shuffle(healthy)
    n_mod, n_small = max(1, round(0.05 * n)), max(1, round(0.01 * n))
    modified = sorted(healthy[:n_mod])
    removed = sorted(healthy[n_mod : n_mod + n_small])
    poisoned, emptied = healthy[n_mod + n_small : n_mod + n_small + 2]
    poison_fixed = sorted(v1.malformed)[0]

    docs = dict(v1.docs)
    for doc_id in modified:
        ds, xml = docs[doc_id]
        # amend one ledd of the law: a real text edit, so the hash changes
        # and the chunk content differs
        cut = xml.index("</article>")
        docs[doc_id] = (ds, xml[:cut] + f" Endret ved {w.sentence()}" + xml[cut:])
    for doc_id in removed:
        del docs[doc_id]
    ds, _ = docs[poisoned]
    docs[poisoned] = (ds, _malformed(w, poisoned))
    ds, _ = docs[emptied]
    docs[emptied] = (ds, _law(w, emptied, "empty"))
    ds, _ = docs[poison_fixed]
    docs[poison_fixed] = (ds, _law(w, poison_fixed, "standard"))
    added = [f"NY-{seed % 1000:03d}-{i:05d}" for i in range(n_small)]
    for i, doc_id in enumerate(added):
        docs[doc_id] = (DATASETS[i % len(DATASETS)], _law(w, doc_id, _pick_family(rng)))

    v2 = Corpus(
        docs=docs,
        malformed=(v1.malformed - {poison_fixed}) | {poisoned},
        empty=v1.empty | {emptied},
    )
    change = ChangeSet(
        modified=modified,
        removed=removed,
        added=added,
        poison_fixed=poison_fixed,
        poisoned=poisoned,
        emptied=emptied,
        still_failed=sorted(v1.malformed - {poison_fixed}),
    )
    return v2, change
