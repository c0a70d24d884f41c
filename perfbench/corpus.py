"""Seeded benchmark inputs: heavy pages with an entity-dense org universe.

Pages come from the program's own generator, ``page_row(i, "heavy")``,
starting at a seed-derived row offset (a multiple of 100, so every input
keeps the generator's per-100-row class mix).  The generator names only
5 gold organisations (15 alias spellings), which leaves the linker
almost nothing to do; here most pages get their organisation replaced
by one from a seed-derived universe of ``pages // 2`` organisations,
each with three alias spellings.  The other pages keep their gold
alias, so the generator's gold clusters stay in the input.

Universe names are three pseudo-words, one per slot, chosen so that two
organisations share at most one word: the linker must merge the aliases
of one organisation (3-gram Jaccard >= 0.8) and keep organisations apart
(Jaccard well below its 0.7 threshold).
"""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter
from dataclasses import dataclass

from gleaner_spark.sources.pages import (
    ORG_CLUSTERS,
    org_mention,
    page_row,
    row_class,
)

SYLLABLES = (
    "ka lo mir ven tus dra shi pol nek ru va zel bor fin gat hul jor lex "
    "mun pra qui sol tor ul wen yar bes cor dal eth gro ith kem lun mos "
    "nor osk pel rim sav tev ub vos"
).split()

#: share of page contents (out of 4) that keep the generator's gold alias
GOLD_KEEP = 1


def _h(seed: int, *parts) -> int:
    key = ":".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")


def row_offset(seed: int) -> int:
    return 100 * (_h(seed, "offset") % 10_000)


#: first row of the base warehouse's pages: above every seeded offset,
#: so no seeded page is already landed in it
BASE_OFFSET = 2_000_000
#: seed of the base warehouse's organisation splicing
BASE_SEED = 0


def org_universe(seed: int, n_orgs: int) -> list[list[str]]:
    """``n_orgs`` organisations × 3 alias spellings.

    Org j takes words (a, b, (a + b) mod V) from three disjoint
    vocabularies of V words: two distinct orgs differ in at least two of
    the three slots."""
    rng = random.Random(_h(seed, "universe"))
    vocab = 1
    while vocab * vocab < n_orgs:
        vocab += 1
    vocab = max(vocab, 8)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < 3 * vocab:
        w = "".join(rng.choice(SYLLABLES) for _ in range(3))
        if w not in seen and len(w) >= 6:
            seen.add(w)
            words.append(w.capitalize())
    slots = [words[k * vocab:(k + 1) * vocab] for k in range(3)]
    orgs = []
    for j in range(n_orgs):
        a, b = j % vocab, j // vocab
        name = f"{slots[0][a]} {slots[1][b]} {slots[2][(a + b) % vocab]}"
        orgs.append([name, f"The {name}", name[:-1] + "."])
    return orgs


def content_key(i: int) -> int:
    """Row whose JSON-LD document page ``i`` carries: ``dup`` rows
    re-embed an earlier row's document (sources/pages.py)."""
    return i - (i % 100) + (i % 10) if row_class(i) == "dup" else i


@dataclass
class Corpus:
    seed: int
    offset: int
    rows: list[dict]            # page_row dicts, spliced
    universe: list[list[str]]

    def gold_label(self) -> dict[str, str]:
        """alias spelling → cluster label (gold 'g<c>' or universe 'u<j>')."""
        out = {}
        for c, aliases in enumerate(ORG_CLUSTERS):
            for a in aliases:
                out[a] = f"g{c}"
        for j, aliases in enumerate(self.universe):
            for a in aliases:
                out[a] = f"u{j}"
        return out

    def shape(self, first: int = 0, count: int | None = None) -> dict:
        """Pages, html MB, row-class mix and distinct organisation
        spellings of ``rows[first:first + count]``."""
        rows = self.rows[first:] if count is None else \
            self.rows[first:first + count]
        names = set()
        for k in range(first, first + len(rows)):
            i = self.offset + k
            if row_class(i) not in ("none", "invalid"):
                key = content_key(i)
                names.add(_alias_for(self.seed, key, self.universe)
                          or org_mention(key)[0])
            if i % 10 == 7:
                names.add(_alias_for(self.seed, i, self.universe)
                          or org_mention(i)[0])
        return {
            "pages": len(rows),
            "html_mb": round(sum(len(r["html"]) for r in rows) / 1e6, 3),
            "row_classes": dict(Counter(
                row_class(self.offset + k)
                for k in range(first, first + len(rows)))),
            "distinct_org_names": len(names),
        }


def _org_for(seed: int, key: int,
             universe: list[list[str]]) -> tuple[str, str] | None:
    """(cluster label, alias) that replaces row ``key``'s organisation,
    or None where the row keeps its gold alias."""
    if _h(seed, "gold", key) % 4 < GOLD_KEEP:
        return None
    j = _h(seed, "org", key) % len(universe)
    return f"u{j}", universe[j][_h(seed, "alias", key) % 3]


def _alias_for(seed: int, key: int, universe: list[list[str]]) -> str | None:
    org = _org_for(seed, key, universe)
    return None if org is None else org[1]


def spliced_page(seed: int, i: int, universe: list[list[str]]) -> dict:
    """``page_row(i, "heavy")`` with its organisation names replaced.

    Only exact JSON string values (``"<alias>"``) and the microdata
    footer's text (``><alias><``) are rewritten, so an alias that is a
    prefix of another ("Ocean Data Consortium" / "... Inc") is never
    split.  The document alias follows the row whose document the page
    embeds; the footer alias follows the page itself.

    The generator gives every host's footer one ``itemid``
    (``https://<host>/org``) whatever organisation it names, which would
    make one IRI carry several organisations.  The footer's ``itemid``
    is made per organisation (``https://<host>/org/<cluster label>``),
    so the gold clusters hold for every mention."""
    row = page_row(i, "heavy")
    html = row["html"].decode("utf-8")
    key = content_key(i)
    doc_alias = _alias_for(seed, key, universe)
    if doc_alias is not None:
        html = html.replace(f'"{org_mention(key)[0]}"', f'"{doc_alias}"')
    gold_alias, cluster = org_mention(i)
    label, foot_alias = (_org_for(seed, i, universe)
                         or (f"g{cluster}", gold_alias))
    html = html.replace(f">{gold_alias}<", f">{foot_alias}<")
    html = re.sub(r'itemid="(https://[^/"]+)/org"',
                  rf'itemid="\1/org/{label}"', html)
    row["html"] = html.encode("utf-8")
    return row


def build(seed: int, n_pages: int, offset: int | None = None) -> Corpus:
    offset = row_offset(seed) if offset is None else offset
    universe = org_universe(seed, max(n_pages // 2, 8))
    rows = [spliced_page(seed, offset + k, universe) for k in range(n_pages)]
    return Corpus(seed, offset, rows, universe)


def write_parquet(rows: list[dict], path: str) -> None:
    """Pages table in the program's input shape (timestamps in µs, the
    precision Spark reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    pq.write_table(table, path)
