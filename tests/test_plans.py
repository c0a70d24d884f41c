"""Physical-plan audits: the optimizations the engine depends on at
scale must actually appear in the executed plans — filters reach the
parquet scan, dimension joins broadcast, aggregations have map-side
partial phases, projections prune the scan schema, and the anti-join
resume primitive stays a join (not a subquery rescan)."""

from __future__ import annotations

import pytest

from gleaner_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["hash_ids"][0](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "LessThan(doc_id,50)" in plan.replace(" ", "")


def test_dimension_joins_broadcast(spark):
    df = QUERIES["broadcast_lookup_join"][0](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # nation and region both broadcast — no shuffle for the dim chain
    assert plan.count("BroadcastExchange") >= 2


def test_aggregation_is_partial(spark):
    df = QUERIES["pricing_summary"][0](spark, SF)
    plan = _plan(df)
    # map-side partial + final aggregate: two HashAggregate operators
    # (AQE shows codegen spans only in the executed final plan, so assert
    # the partial-aggregation markers instead)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_projection_prunes_scan_schema(spark):
    df = QUERIES["token_count"][0](spark, SF)
    plan = _plan(df)
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "text" in scan_line and "doc_id" in scan_line
    # untouched wide columns must not be read
    assert "embedding" not in scan_line and "source" not in scan_line


def test_resume_antijoin_is_a_join(spark):
    df = QUERIES["anti_join_diff"][0](spark, SF)
    plan = _plan(df)
    assert "LeftAnti" in plan


def test_pipeline_source_join_broadcasts(spark):
    from gleaner_spark.operators.stages import with_source
    from gleaner_spark.sources.pages import gen_pages_spark, gen_sources_spark

    pages = with_source(gen_pages_spark(spark, 50, 2),
                        gen_sources_spark(spark))
    assert "BroadcastHashJoin" in _plan(pages)


def test_sources_dimension_is_local_relation(spark):
    """The sources dimension plans as a LocalTableScan: no Python RDD
    (``Scan ExistingRDD``) that every consumer would re-run in Python
    workers, and no silent fall-back off the Arrow path.  Its rows are
    ``sources_rows()`` exactly: values, booleans, empty strings, column
    order."""
    from gleaner_spark.sources.pages import gen_sources_spark, sources_rows

    dim = gen_sources_spark(spark)
    plan = _plan(dim)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    want = sources_rows()
    assert dim.columns == list(want[0])
    got = [r.asDict() for r in dim.collect()]
    assert got == want
    assert [r["active"] for r in got].count(False) == 2
    assert sum(r["identifierpath"] == "" for r in got) == len(got) - 1


def test_mill_explode_is_jvm_only(spark):
    """With the fused process UDF the mill is a pure JVM explode — no
    second Python stage in the plan."""
    from gleaner_spark.operators.stages import (
        extract_stage, mill_stage, normalize_stage, with_source,
    )
    from gleaner_spark.sources.pages import gen_pages_spark, gen_sources_spark

    docs = normalize_stage(
        extract_stage(
            with_source(gen_pages_spark(spark, 20, 2), gen_sources_spark(spark))
        )
    ).localCheckpoint(eager=True)
    plan = _plan(mill_stage(docs, "g"))
    assert "Generate posexplode" in plan or "Generate explode" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_one_python_evaluation_per_stage(spark):
    """Each Python-UDF boundary costs an Arrow round trip plus
    interpreter time: extraction is one pass per page
    (``extract_page_udf``), the org graphs one pass per org doc
    (``process_doc_udf``, whose quads are the milled triples), and
    milling an un-materialized docs frame adds no second process pass
    (the explode's inferred ``size(quads) > 0`` filter must not be
    pushed below the UDF), and neither does filtering one on ``valid``."""
    from pyspark.sql import functions as F

    from gleaner_spark.operators.provenance import org_triples
    from gleaner_spark.operators.stages import (
        extract_stage, mill_stage, normalize_stage, with_source,
    )
    from gleaner_spark.sources.pages import gen_pages_spark, gen_sources_spark

    blocks = extract_stage(
        with_source(gen_pages_spark(spark, 20, 2), gen_sources_spark(spark))
    )
    assert _plan(blocks).count("ArrowEvalPython") == 1
    assert _plan(org_triples(gen_sources_spark(spark))).count(
        "ArrowEvalPython") == 1
    assert _plan(mill_stage(normalize_stage(blocks))).count(
        "ArrowEvalPython") == 2
    valid = normalize_stage(blocks).filter(F.col("valid"))
    assert sum(
        "ArrowEvalPython" in line and "process_doc_udf" in line
        for line in _plan(valid).splitlines()
    ) == 1


def _iter_nodes(node):
    """Walk a SparkPlan tree via py4j, descending through AQE wrappers."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _iter_nodes(node.executedPlan())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _iter_nodes(ch.apply(i))


def _subtree_has_limit(node) -> bool:
    bounded = {
        "TakeOrderedAndProjectExec", "GlobalLimitExec", "LocalLimitExec",
        "CollectLimitExec",
    }
    return any(
        n.getClass().getSimpleName() in bounded for n in _iter_nodes(node)
    )


# queries whose construction starts a streaming job — audited elsewhere
WINDOW_AUDIT_SKIP = {"streaming_event_counts", "streaming_incremental_kg",
                     "streaming_sessionize"}


def test_no_unbounded_unpartitioned_window(spark):
    """Scale-killer guard (round-1 VERDICT #2): a Window with no
    partitionBy moves EVERY input row to one partition.  Allowed only
    when the input is already bounded by a limit (global top-k derives
    its rank over the k-row TakeOrderedAndProject output)."""
    offenders = []
    for name, (fn, _oracle) in QUERIES.items():
        if name in WINDOW_AUDIT_SKIP:
            continue
        df = fn(spark, SF)
        root = df._jdf.queryExecution().executedPlan()
        for node in _iter_nodes(root):
            if node.getClass().getSimpleName() == "WindowExec" and \
                    node.partitionSpec().isEmpty() and \
                    not _subtree_has_limit(node):
                offenders.append(name)
    assert not offenders, (
        f"unpartitioned Window over unbounded input in: {offenders}"
    )


def test_robots_filter_is_broadcast_map_side(spark):
    """S2: the per-host rule arrays broadcast; the page relation is
    never shuffled or re-joined — REP winner selection is a map-side
    expression over the broadcast rules (no aggregation over pages)."""
    df = QUERIES["robots_filter"][0](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # pages are never sort-merge-joined (the rules-dim build may shuffle
    # its own tiny distinct, but the page relation only meets a broadcast)
    assert "SortMergeJoin" not in plan
    # winner selection must not aggregate or re-shuffle the page
    # relation: no exchange keyed on the page url anywhere in the plan
    assert "collect_list" in plan
    assert "hashpartitioning(url" not in plan


def test_ann_topk_plans_as_take_ordered(spark):
    """The brute-force and IVF top-k must plan as TakeOrderedAndProject
    (per-partition heap + driver merge), not a corpus-wide Window sort."""
    from gleaner_spark.plans.queries import q_ann_topk_bruteforce

    for name, fn in (
        ("ann_topk_bruteforce", q_ann_topk_bruteforce),
        ("ann_ivf_probe", QUERIES["ann_ivf_probe"][0]),
    ):
        df = fn(spark, SF)
        assert "TakeOrderedAndProject" in _plan(df), name


def test_minhash_on_codegen_path(spark):
    """The MinHash signature must be exploded-rows + partial-agg min —
    not interpreted higher-order functions over arrays."""
    df = QUERIES["minhash_signature"][0](spark, SF)
    plan = _plan(df)
    assert "Generate explode" in plan
    # partial + final min aggregation (SortAggregate for string min)
    assert "partial_min" in plan
    # no interpreted higher-order-function md5: the digest is a plain
    # projection over exploded rows
    assert "Project [doc_id" in plan and "md5" in plan


def test_salted_repartition_breaks_mega_domain_skew(spark):
    """North rule: mega-domain skew handled by salted repartitioning on
    url-host.  A 40%-of-the-corpus host must not pin a single partition:
    after salting, the largest partition stays near the mean instead of
    holding the whole domain."""
    from pyspark.sql import functions as F

    from gleaner_spark.operators.stages import salted_repartition, url_host

    # host-clustered input: 40% mega.example.org + 60% spread over 12
    rows = [(f"https://mega.example.org/p/{i}",) for i in range(4000)] + [
        (f"https://site{i % 12}.example.org/p/{i}",) for i in range(6000)
    ]
    pages = spark.createDataFrame(rows, "url string").withColumn(
        "host", url_host(F.col("url"))
    ).repartition(16, "host")  # simulate host-clustered layout

    before = (
        pages.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().agg(F.max("count")).first()[0]
    )
    assert before >= 4000  # the mega domain pins one partition

    salted = salted_repartition(pages, 16, salt=8)
    sizes = [
        r["count"]
        for r in salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    ]
    mean = sum(sizes) / len(sizes)
    # the guard bounds the largest shuffle KEY at mega/salt (500 here);
    # partitions still get several keys by hashing, so assert the domain
    # is no longer pinned (≥2× better than unsalted) and the residual
    # imbalance stays within key-granularity bounds
    assert max(sizes) < before / 2, (max(sizes), before)
    assert max(sizes) <= 3.5 * mean, (max(sizes), mean)
    assert salted.count() == 10000  # nothing lost or duplicated


def test_sign_lsh_bits_scale_with_corpus(spark):
    """Round-3 VERDICT #2: sign-LSH bit-width derives from corpus size
    so mean bucket occupancy stays flat — on a 10× corpus the cap-drop
    row fraction must stay bounded instead of every bucket blowing past
    the cap as a constant width would."""
    from pyspark.sql import functions as F

    from gleaner_spark.functions.minhash import cap_buckets
    from gleaner_spark.plans.queries import (
        SIGN_LSH_MAX_BUCKET, _sign_bucket_expr, _sign_lsh_bits,
    )

    # formula: clamped, monotone, integer-exact on power-of-two edges
    assert _sign_lsh_bits(1) == 4
    assert _sign_lsh_bits(64 * 16) == 4
    assert _sign_lsh_bits(64 * 16 + 1) == 5
    assert _sign_lsh_bits(10_000) == 8
    assert _sign_lsh_bits(10**12) == 16   # clamped at the probe ceiling
    sizes = [10**k for k in range(7)]
    widths = [_sign_lsh_bits(n) for n in sizes]
    assert widths == sorted(widths)

    def corpus(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64),"
                " d -> cast(hash(id, d) as double))"
            ).alias("embedding"),
        )

    for n in (1_000, 10_000):
        eb = corpus(n).select(
            "vec_id", _sign_bucket_expr(_sign_lsh_bits(n)).alias("bucket")
        )
        kept = cap_buckets(eb, ["bucket"], SIGN_LSH_MAX_BUCKET).count()
        dropped_frac = (n - kept) / n
        assert dropped_frac < 0.05, (n, dropped_frac)


def test_ann_ivf_nprobe_recall_sweep(spark):
    """The IVF nprobe recall-vs-cost lever, MEASURED: recall@10 against
    the exact brute-force top-10 must be monotone non-decreasing in
    nprobe and reach 1.0 when every cell is probed (IVF with all cells
    == brute force).  The label quantizer partitions the space
    arbitrarily (labels are not embedding clusters), so expected recall
    at nprobe of 10 cells is ~nprobe/10 — assert at least half that;
    the TRAINED quantizer (ann_ivf_kmeans) is the quality path."""
    from gleaner_spark.plans.queries import (
        q_ann_ivf_probe, q_ann_topk_bruteforce,
    )

    exact = {r.vec_id for r in q_ann_topk_bruteforce(spark, SF).collect()}
    assert len(exact) == 10
    recalls = []
    for nprobe in (1, 2, 4, 10):
        got = {r.vec_id
               for r in q_ann_ivf_probe(spark, SF, nprobe=nprobe).collect()}
        recalls.append((nprobe, len(got & exact) / len(exact)))
    rs = [r for _, r in recalls]
    assert rs == sorted(rs), recalls
    assert rs[-1] == 1.0, recalls       # all cells probed == exact
    for nprobe, r in recalls:
        assert r >= (nprobe / 10) / 2, recalls


def test_microdata_rdfa_plan_is_shuffle_free(spark):
    """The structured-data extraction is a scan → projection (pandas
    UDF) → explode: at 100 TB it must run at scan parallelism with NO
    exchange — assert the plan carries the pushed doc_id filter and
    zero shuffles."""
    df = QUERIES["kg_microdata_rdfa"][0](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
    assert "ArrowEvalPython" in plan or "EvalPython" in plan


def test_sameas_rewrite_join_strategy_gate(spark):
    """Round-5 materialize cliff: the sameAs map is reliable_ckpt'd, so
    Catalyst has NO stats for it and the subject/object rewrite joins
    silently sort-merge — shuffling the fattest relation in the pipeline
    twice (measured 1342 s vs 411 s broadcast at 960k pages / 8 cores).
    link_stage must measure the map and hint broadcast under the size
    gate; above the gate the shuffle join is the correct fallback."""
    from gleaner_spark.operators.link import canonicalize_triples, link_stage

    t = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    nm = "<https://schema.org/name>"
    org = "<https://schema.org/Organization>"
    rows = []
    for j, alias in enumerate(["Ocean Data Consortium",
                               "OCEAN DATA CONSORTIUM",
                               "Ocean-Data-Consortium"]):
        e = f"<https://ex.org/e/{j}>"
        rows.append((e, t, org, "g", "s1"))
        rows.append((e, nm, f'"{alias}"', "g", "s1"))
    triples = spark.createDataFrame(
        rows,
        "subject string, predicate string, object string, graph string,"
        " source string",
    )

    # small map -> gate picks broadcast: both rewrite joins hash-build
    linked = link_stage(triples)
    plan = _plan(linked)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the rewrite must actually canonicalize (aliases share one id)
    subs = {r.subject for r in linked.filter(
        (linked.predicate == nm) & (linked.source == "s1")).collect()}
    assert len(subs) == 1

    # above the gate: explicit fallback keeps the shuffle join
    sameas = spark.createDataFrame(
        [("<https://ex.org/e/1>", "<https://ex.org/e/0>")],
        "entity string, canonical string",
    )
    smj = canonicalize_triples(triples, sameas, broadcast_map=False)
    assert "SortMergeJoin" in _plan(smj), _plan(smj)
    bhj = canonicalize_triples(triples, sameas, broadcast_map=True)
    assert _plan(bhj).count("BroadcastHashJoin") >= 2


# ---------------------------------------------------------------------------
# round-6 optimization-internals tests: the rewritten dedup operators must
# stay bit-identical to first-principles references on corpora the fixed
# sf tables don't cover (random texts, empty/whitespace docs, md5 ties)
# ---------------------------------------------------------------------------


def _mk_docs_dir(spark, tmp_path, rows):
    """Write (doc_id, text, source, lang, n_chars) docs to a temp sf dir."""
    import os

    d = spark.createDataFrame(
        [(i, t, "s0", "en", len(t)) for i, t in rows],
        "doc_id int, text string, source string, lang string, n_chars int",
    )
    sf = str(tmp_path / "sfrand")
    os.makedirs(sf, exist_ok=True)
    d.coalesce(2).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def _random_texts(n, seed, vocab=40, lo=8, hi=40):
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    out = []
    for i in range(n):
        out.append((i, " ".join(
            rng.choice(words) for _ in range(rng.randint(lo, hi)))))
    return out


def test_ngram_jaccard_matches_bruteforce_on_random_corpus(spark, tmp_path):
    """The round-6 plan (int dictionary + narrow prefix join + bitmap
    upper bound + survivor-only verification) must return EXACTLY the
    brute-force all-pairs result — the bitmap bound and prefix filters
    may only prune, never drop a true pair."""
    from decimal import ROUND_HALF_UP, Decimal

    rows = _random_texts(120, seed=7)
    sf = _mk_docs_dir(spark, tmp_path, rows)
    got = {
        (r.a, r.b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"][0](spark, sf).collect()
    }

    # brute force over the SAME dup-rich corpus (base + near-dup mutant)
    def shingles(text):
        toks = " ".join(text.lower().split()).split(" ")
        k = max(len(toks) - 2, 1)
        return {" ".join(toks[i:i + 3]) for i in range(k)}

    docs = {i: shingles(t) for i, t in rows}
    docs.update({
        i + 100000: shingles(t + " extra near dup token") for i, t in rows
    })
    want = {}
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(docs[a] & docs[b])
            j = inter / (len(docs[a]) + len(docs[b]) - inter)
            j4 = float(Decimal(repr(j)).quantize(
                Decimal("0.0001"), ROUND_HALF_UP))
            if j4 >= 0.5:
                want[(a, b)] = j4
    assert got == want


def test_ngram_bitmap_bound_soundness_property():
    """Pure-python mirror of the query's 256-bucket bitmap bound:
    popcount(bmA & bmB) + min(collA, collB) ≥ |A∩B| for random int
    sets — the algebraic guarantee the pruning filter rests on."""
    import random

    rng = random.Random(13)
    for _ in range(500):
        na, nb = rng.randint(1, 120), rng.randint(1, 120)
        pool = range(rng.randint(150, 5000))
        A = set(rng.sample(pool, min(na, len(pool))))
        B = set(rng.sample(pool, min(nb, len(pool))))

        def bm(S):
            m = [0, 0, 0, 0]
            for s in S:
                b = s % 256
                m[b // 64] |= 1 << (b % 64)
            return m

        ma, mb = bm(A), bm(B)
        pop = sum(bin(x & y).count("1") for x, y in zip(ma, mb))
        coll_a = len(A) - sum(bin(x).count("1") for x in ma)
        coll_b = len(B) - sum(bin(x).count("1") for x in mb)
        assert pop + min(coll_a, coll_b) >= len(A & B)


def test_simhash_pairs_algebra_handles_empty_and_whitespace(spark, tmp_path):
    """The suffix-algebra signature derivation (base sums + constant
    vector, minus the empty-norm correction) must equal signatures
    computed directly from the mutated texts — including the edge class
    where the base text normalizes to empty and its '' token vanishes
    after the concat."""
    from pyspark.sql import functions as F

    from gleaner_spark.plans.queries import (
        _simhash64_pack_ints, _simhash64_sums,
    )

    rows = _random_texts(30, seed=11) + [
        (900, ""), (901, "   "), (902, "\t\n "), (903, "one"),
    ]
    sf = _mk_docs_dir(spark, tmp_path, rows)

    base = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text")
    near = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                       F.concat("text", F.lit(" extra near dup token"))
                       .alias("text"))
    exact = base.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    direct = {
        r.doc_id: (f"{r.sig_hi:08x}{r.sig_lo:08x}", r.sig_hi, r.sig_lo)
        for r in _simhash64_pack_ints(_simhash64_sums(
            base.unionByName(near).unionByName(exact))).collect()
    }
    from gleaner_spark.core.text import simhash64_hex

    for doc, text in rows:
        if text.strip():  # an empty text hashes the one token '' in SQL
            assert direct[doc][0] == simhash64_hex(text), doc
        assert direct[doc + 100000][0] == simhash64_hex(
            text + " extra near dup token"), doc

    # the production path (algebraic derivation) inside the query: check
    # via its observable output instead of re-deriving here — both the
    # signature frame and the query's pair set must agree with direct
    got_pairs = {
        (r.a, r.b, r.hamming)
        for r in QUERIES["dedup_simhash_pairs"][0](spark, sf).collect()
    }
    # reference pairs from the directly-computed signatures
    from gleaner_spark.plans.queries import (
        SIMHASH_HAMMING_MAX, SIMHASH_MAX_BUCKET,
    )
    bands = {}
    for doc, (hx, hi, lo) in direct.items():
        for bidx in range(4):
            bands.setdefault((bidx, hx[bidx * 4:bidx * 4 + 4]), []).append(doc)
    want = set()
    for (bidx, key), members in bands.items():
        if len(members) > SIMHASH_MAX_BUCKET:
            continue
        for i in range(len(members)):
            for k in range(i + 1, len(members)):
                a, b = sorted((members[i], members[k]))
                ha, hb = direct[a], direct[b]
                ham = (bin((ha[1] ^ hb[1])).count("1")
                       + bin((ha[2] ^ hb[2])).count("1"))
                if ham <= SIMHASH_HAMMING_MAX:
                    want.add((a, b, ham))
    assert got_pairs == want


@pytest.mark.parametrize("rank_dict_max", [None, 0], ids=["rank", "fallback"])
def test_minhash_lsh_rank_path_matches_python_reference(
        spark, tmp_path, monkeypatch, rank_dict_max):
    """Both sides of the RANK_DICT_MAX gate — the int-rank signature
    encoding and the hex-string fallback (gate forced to 0) — must
    produce the exact pair set of the md5-string reference
    (core.text.md5_minhash_signature + identical banding and bucket
    cap) on a random corpus."""
    from gleaner_spark.core.text import md5_minhash_signature
    from gleaner_spark.functions import minhash
    from gleaner_spark.plans.queries import (
        LSH_BAND, LSH_BANDS, LSH_MAX_BUCKET, NUM_MINHASH,
    )

    if rank_dict_max is not None:
        monkeypatch.setattr(minhash, "RANK_DICT_MAX", rank_dict_max)

    rows = _random_texts(80, seed=23)
    sf = _mk_docs_dir(spark, tmp_path, rows)
    got = {
        (r.a, r.b)
        for r in QUERIES["dedup_minhash_lsh"][0](spark, sf).collect()
    }

    def shingle_list(text):
        toks = " ".join(text.lower().split()).split(" ")
        k = max(len(toks) - 2, 1)
        return sorted({" ".join(toks[i:i + 3]) for i in range(k)})

    docs = {i: shingle_list(t) for i, t in rows}
    docs.update({
        i + 100000: shingle_list(t + " extra near dup token")
        for i, t in rows
    })
    buckets = {}
    for doc, sh in sorted(docs.items()):
        sig = md5_minhash_signature(sh, NUM_MINHASH)
        for b in range(LSH_BANDS):
            key = (b, "|".join(sig[b * LSH_BAND:(b + 1) * LSH_BAND]))
            buckets.setdefault(key, []).append(doc)
    want = set()
    for members in buckets.values():
        if len(members) > LSH_MAX_BUCKET:
            continue
        for i in range(len(members)):
            for k in range(i + 1, len(members)):
                want.add(tuple(sorted((members[i], members[k]))))
    assert got == want
