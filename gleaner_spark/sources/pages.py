"""Deterministic synthetic Common-Crawl-style page corpus.

Input-table shape mandated by BASELINE.json ``input_hint``:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Everything is a pure function of the row index ``i`` (seeded md5, fixed
epoch — no wall clock), so the corpus is byte-identical across runs,
partitionings and parallelism levels: the property the P/R, resume and
N-vs-4N scaling tests all rest on.

Row-class mix per 100 rows (FIXTURES.md §1): 60 one-jsonld, 10
multi-jsonld, 10 no-jsonld, 5 invalid-JSON, 5 raw-JSON body, 10
duplicate-content.  Host distribution is Zipf-like with one mega-domain
holding ~40% of rows — the skew the salted repartition + AQE skew-join
path exists for.  Document variants mirror the reference's test corpora
(string/array/short-url contexts, relative @id, no-context,
blank-node-rich docs) plus entity-dupe Organization mentions with known
gold clusters for the MinHash-LSH + connected-components stage.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta, timezone
from typing import Iterator

EPOCH = datetime(2024, 10, 16, tzinfo=timezone.utc)

N_HOSTS = 20
HOSTS = [f"site{h:02d}.example.org" for h in range(N_HOSTS)]

# gold entity clusters: alias spellings of the same organization that the
# linking stage must unify (cluster id = index in this list)
ORG_CLUSTERS: list[list[str]] = [
    ["ACME Research Institute", "ACME Research Inst.", "acme research institute"],
    ["Ocean Data Consortium", "Ocean Data Consortium Inc", "ocean data consortium"],
    ["Polar Science Center", "Polar Science Centre", "The Polar Science Center"],
    ["Global Geo Survey", "Global Geo-Survey", "global geo survey"],
    ["River Basin Observatory", "River Basin Observ.", "river basin observatory"],
]

LANGS = ["en"] * 9 + ["es", "de", ""]


def _u(i: int, salt: str) -> float:
    """Deterministic uniform [0,1) from (seed=42, i, salt)."""
    h = hashlib.md5(f"42:{salt}:{i}".encode()).digest()
    return int.from_bytes(h[:8], "big") / 2**64


def host_for(i: int) -> str:
    """Zipf(~1.2)-flavoured host pick: host 0 is the ~40% mega-domain."""
    u = _u(i, "host")
    if u < 0.40:
        return HOSTS[0]
    # remaining 60% over hosts 1..19 with 1/h weights
    weights = [1.0 / h for h in range(1, N_HOSTS)]
    total = sum(weights)
    x = (u - 0.40) / 0.60 * total
    acc = 0.0
    for h, w in enumerate(weights, start=1):
        acc += w
        if x < acc:
            return HOSTS[h]
    return HOSTS[-1]


def row_class(i: int) -> str:
    m = i % 100
    if m < 60:
        return "one"
    if m < 70:
        return "multi"
    if m < 80:
        return "none"
    if m < 85:
        return "invalid"
    if m < 90:
        return "rawjson"
    return "dup"


def org_mention(i: int) -> tuple[str, int]:
    """(alias string, gold cluster id) for row i."""
    cluster = i % len(ORG_CLUSTERS)
    alias = ORG_CLUSTERS[cluster][(i // len(ORG_CLUSTERS)) % 3]
    return alias, cluster


def dataset_doc(i: int, host: str) -> dict:
    """The workhorse schema.org Dataset doc; context variant rotates
    through the reference's fix-up cases."""
    alias, _ = org_mention(i)
    doc = {
        "@id": f"https://{host}/id/dataset/{i}",
        "@type": "Dataset",
        "name": f"Synthetic dataset {i}",
        "description": f"Deterministic record {i} from {host}",
        "identifier": {
            "@type": "PropertyValue",
            "propertyID": "https://registry.identifiers.org/registry/doi",
            "value": f"doi:10.5555/synthetic.{i}",
        },
        "publisher": {"@type": "Organization", "name": alias},
    }
    variant = i % 6
    if variant == 0:
        doc["@context"] = "https://schema.org/"
    elif variant == 1:
        doc["@context"] = "http://schema.org"  # short/no-slash/http → url fix
    elif variant == 2:
        doc["@context"] = ["https://schema.org/",
                           {"dct": "http://purl.org/dc/terms/"}]  # array → std
    elif variant == 3:
        doc["@context"] = {"@vocab": "https://schema.org/"}
        doc["@id"] = f"dataset/{i}"  # relative @id → file:// fix
    elif variant == 4:
        doc["@context"] = {"@vocab": "https://schema.org/",
                           "schema": "https://schema.org/"}
        doc["creator"] = {"@type": "Person", "name": f"Author {i % 50}",
                          "affiliation": {"@type": "Organization", "name": alias}}
    else:
        doc.pop("@context", None)  # no context → empty normalization quirk
    return doc


def person_doc(i: int, host: str) -> dict:
    return {
        "@context": {"@vocab": "https://schema.org/"},
        "@type": "Person",
        "name": f"Person {i % 100}",
        "worksFor": {"@type": "Organization", "name": org_mention(i)[0]},
    }


def jsonld_blocks(i: int) -> list[str]:
    """The JSON-LD script blocks embedded in page i (pre-HTML)."""
    cls = row_class(i)
    host = host_for(i)
    if cls == "none":
        return []
    if cls == "invalid":
        return ['{"@context": "https://schema.org/", "@type": "Dataset", '
                f'"name": "broken {i}", ']  # unterminated → isValid filter
    if cls == "dup":
        base = i - (i % 100) + (i % 10)  # re-embed an earlier 'one' row's doc
        return [json.dumps(dataset_doc(base, host_for(base)), sort_keys=True)]
    if cls == "multi":
        return [
            json.dumps(dataset_doc(i, host), sort_keys=True),
            json.dumps(person_doc(i, host), sort_keys=True),
        ] + ([json.dumps({"@context": {"@vocab": "https://schema.org/"},
                          "@type": "WebSite",
                          "name": f"{host} portal"}, sort_keys=True)]
             if i % 2 == 0 else [])
    return [json.dumps(dataset_doc(i, host), sort_keys=True)]


PAGE_TEMPLATE = (
    "<html><head><title>page {i}</title>"
    '<script type="text/javascript">var page={i};</script>'
    "{scripts}</head>"
    "<body><h1>Record {i}</h1><p>{body}</p>"
    "<!-- <script type=\"application/ld+json\">{{\"decoy\": true}}</script> -->"
    "{footer}</body></html>"
)


def structured_footer(i: int, host: str) -> str:
    """Deterministic microdata/RDFa Lite footer for ~1 page in 5 —
    exercises the beyond-reference structured-markup extraction surface
    (operators/stages.structured_stage) end-to-end.  ``i % 10 == 7`` →
    a microdata Organization footer (itemid subject + a blank-node
    member, so skolemization is on the path); ``i % 10 == 3`` → an RDFa
    Article with subject chaining through a blank-node author.  Org
    names reuse the gold alias clusters so entity linking sees the same
    mention surface from both extraction paths."""
    m = i % 10
    alias, _ = org_mention(i)
    if m == 7:
        return (
            '<footer itemscope itemtype="https://schema.org/Organization"'
            f' itemid="https://{host}/org">'
            f'<span itemprop="name">{alias}</span>'
            f'<a itemprop="url" href="https://{host}/">home</a>'
            '<span itemprop="member" itemscope'
            ' itemtype="https://schema.org/Person">'
            f'<span itemprop="name">Member {i % 7}</span></span>'
            "</footer>"
        )
    if m == 3:
        return (
            '<div vocab="https://schema.org/" typeof="Article"'
            f' resource="https://{host}/page/{i}#article">'
            f'<span property="headline">Record {i}</span>'
            '<span property="author" typeof="Person">'
            f'<span property="name">Author {i % 50}</span></span>'
            "</div>"
        )
    return ""

_VOCAB = (
    "spark batch line column order small sort fast value scan hash slow "
    "group agg filter query big key window row part table stream merge "
    "data vector customer supplier region nation harvest graph triple "
    "entity schema dataset corpus shard executor shuffle"
).split()


def _filler(i: int, n_words: int) -> str:
    """Deterministic ~n_words filler text (md5-stream indexed into the
    vocab) — makes heavy pages compress like real prose, not zeros."""
    out = []
    block_idx = 0
    while len(out) < n_words:
        h = hashlib.md5(f"body:{i}:{block_idx}".encode()).digest()
        out.extend(_VOCAB[b % len(_VOCAB)] for b in h)
        block_idx += 1
    return " ".join(out[:n_words])


def heavy_dataset_doc(i: int, host: str) -> dict:
    """Realistic-size schema.org Dataset (~3-6 KB JSON, ~60-90 triples):
    nested creators/distribution/variableMeasured lists — the pyld
    expansion + URDNA2015 cost profile of real harvested metadata."""
    doc = dataset_doc(i, host)
    doc["description"] = _filler(i, 200)
    doc["keywords"] = [f"kw-{(i + j) % 97}" for j in range(10)]
    doc["creator"] = [
        {"@type": "Person", "name": f"Author {(i + k) % 500}",
         "affiliation": {"@type": "Organization", "name": org_mention(i)[0]}}
        for k in range(3)
    ]
    doc["distribution"] = [
        {"@type": "DataDownload",
         "contentUrl": f"https://{host}/files/{i}/{k}.csv",
         "encodingFormat": "text/csv"}
        for k in range(2)
    ]
    doc["variableMeasured"] = [
        {"@type": "PropertyValue", "name": f"var{k}", "unitText": "m"}
        for k in range(5)
    ]
    return doc


def page_row(i: int, profile: str = "light") -> dict:
    """profile='light': ~1 KB pages (fast unit tests).  profile='heavy':
    ~20-40 KB pages with realistic JSON-LD — Common-Crawl-shaped rows for
    throughput/scaling benchmarks (real pages average tens of KB; at
    ~1 KB the pipeline is scheduler-bound and parallelism can't show)."""
    cls = row_class(i)
    host = host_for(i)
    lang = LANGS[i % len(LANGS)]
    ts = EPOCH + timedelta(seconds=i)
    heavy = profile == "heavy"
    if heavy:
        body = _filler(i, 3000 + (i % 7) * 500)
        make_doc = heavy_dataset_doc
    else:
        body = f"Deterministic synthetic page {i} hosted on {host}."
        make_doc = dataset_doc
    if cls == "rawjson":
        url = f"https://{host}/data/{i}.jsonld"
        html = json.dumps(make_doc(i, host), sort_keys=True, indent=1)
    elif cls == "none":
        # the headless-gap population, sub-split so the recovered vs
        # remaining stats tell a real story on the bench corpus:
        #   i%3==0 → truly empty (decoy marker only)
        #   i%3==1 → statically-recoverable JS-inline JSON-LD, rotating
        #            the four static shapes short of execution
        #            (headlessNG.go:302-349 sees all of them rendered):
        #            JSON.parse payload / '+'-concatenated document.write
        #            tag / single-assignment VARIABLE INDIRECTION in the
        #            concat chain / TEMPLATE LITERAL with ${name}
        #            interpolation (round-5 additions)
        #   i%3==2 → computed via fetch+DOM insert: recoverable ONLY by
        #            executing JS — the measured remaining gap
        url = f"https://{host}/page/{i}"
        doc = json.dumps(make_doc(i, host), sort_keys=True)
        sub = i % 3
        if sub == 1:
            half = len(doc) // 2
            variant = (i % 12) // 3
            if variant == 0:
                js = f"var meta = JSON.parse('{doc}'); render(meta);"
            elif variant == 1:
                js = (
                    "document.write('<script type=\"application/ld+json\">'"
                    f" + '{doc[:half]}' + '{doc[half:]}'"
                    " + '</scr' + 'ipt>');"
                )
            elif variant == 2:
                js = (
                    f"var p1 = '{doc[:half]}';\n"
                    f"var p2 = '{doc[half:]}';\n"
                    "document.write('<script type=\"application/ld+json\">'"
                    " + p1 + p2 + '</scr' + 'ipt>');"
                )
            else:
                js = (
                    f"var jd = '{doc}';\n"
                    "var tag = `<script type=\"application/ld+json\">"
                    "${jd}</scr` + 'ipt>';\n"
                    "document.body.insertAdjacentHTML('beforeend', tag);"
                )
            scripts = f"<script>{js}</script>"
        elif sub == 2:
            scripts = (
                "<script>fetch('/api/meta').then(r => r.json()).then(d => {"
                "var s = document.createElement('script');"
                "s.type = 'application/ld+json';"
                "s.text = JSON.stringify(d);"
                "document.head.appendChild(s);});</script>"
            )
        else:
            scripts = ""
        html = PAGE_TEMPLATE.format(i=i, scripts=scripts, body=body,
                                    footer=structured_footer(i, host))
    else:
        url = f"https://{host}/page/{i}"
        blocks = jsonld_blocks(i)
        if heavy:
            blocks = [json.dumps(make_doc(i, host), sort_keys=True)
                      if j == 0 and cls in ("one", "multi") else b
                      for j, b in enumerate(blocks)]
            if cls == "dup":
                base = i - (i % 100) + (i % 10)
                blocks = [json.dumps(make_doc(base, host_for(base)),
                                     sort_keys=True)]
        scripts = "".join(
            f'<script type="application/ld+json">{b}</script>'
            for b in blocks
        )
        html = PAGE_TEMPLATE.format(i=i, scripts=scripts, body=body,
                                    footer=structured_footer(i, host))
    return {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": body,
        "lang": lang,
    }


def gen_pages_pandas(n: int, start: int = 0, profile: str = "light"):
    import pandas as pd

    return pd.DataFrame(
        [page_row(i, profile) for i in range(start, start + n)]
    )


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def gen_pages_spark(spark, n: int, partitions: int = 32,
                    profile: str = "light"):
    """Distributed generation: spark.range → mapInPandas.  Content is a
    pure function of the row id, so any partitioning yields the same
    table — generation scales with executors like a real Iceberg scan."""
    rng = spark.range(0, n, 1, partitions)

    def gen(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [page_row(int(i), profile) for i in pdf["id"]]
            )

    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


def sources_rows() -> list[dict]:
    """The sources dimension (configs/template/sources.csv shape,
    ``internal/config/sources.go:57-80``): one row per host; two inactive,
    one custom identifierpath, one strict fix option."""
    rows = []
    for h, host in enumerate(HOSTS):
        rows.append(
            {
                "name": f"src{h:02d}",
                "propername": f"Synthetic Source {h:02d}",
                "url": f"https://{host}/sitemap.xml",
                "domain": host,
                "pid": f"https://registry.example.org/source/{h:02d}",
                "active": h not in (17, 19),
                "identifiertype": "identifiersha" if h % 4 == 0 else "jsonsha",
                "identifierpath": "$['@id']" if h == 3 else "",
                "fixcontextoption": "strict" if h == 18 else "https",
            }
        )
    return rows


def gen_sources_spark(spark):
    """The sources dimension as a local relation.  Built from a pandas
    frame, it goes through the Arrow path and plans as a
    ``LocalTableScan``; a Python list would become a parallelized Python
    RDD (``Scan ExistingRDD``), so every consumer — the ``with_source``
    broadcast, ``org_triples``, ``prov_lineage`` — would re-run Python
    tasks (and, in a fresh process, start the Python workers) for 20
    rows.  The Arrow path loads the JVM's Arrow classes here rather than
    in the first pandas-UDF stage, so in a cold process building the
    dimension takes 3.2 s against 2.5 s for the list (median of 5 fresh
    processes, 4 cpus) while its first consumer drops 7.3 → 4.8 s.  An
    inline ``VALUES`` table with 180 bound literals also plans as a
    ``LocalTableScan`` (2.8 s to build, first consumer 4.8 s); within
    that noise it was not worth a hand-built SQL text."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(sources_rows()),
        "name string, propername string, url string, domain string, pid string,"
        " active boolean, identifiertype string, identifierpath string,"
        " fixcontextoption string",
    )
