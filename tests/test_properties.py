"""Property-based checks (hypothesis) for the engine's determinism
contracts — the properties the DuckDB-oracle comparison relies on."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.functions import (
    bucket_by_ranges,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.aggregates import (
    exact_sum,
)

# money-grid doubles: 2-decimal values as produced by the test tables
money = st.integers(min_value=-(10**7), max_value=10**7).map(lambda c: c / 100.0)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(0, 60), min_size=1, max_size=15),
    st.integers(2, 8),
)
def test_span_coverage_interval_merge_matches_python(spark, starts, window):
    """The interval-merge fold in span_coverage must equal the union size
    of the surviving span intervals computed the dumb way, for arbitrary
    overlap/gap patterns.

    Construction: R = ∪ [s, s+window) over the generated starts. Two docs
    carry identical position-tagged tokens inside R and doc-distinct
    tokens outside, so a window survives (occurs in both docs) iff it
    lies entirely inside R — and because R is a union of window-length
    intervals, the union of surviving windows is exactly R. The operator
    must therefore report covered_tokens == |R| for both docs.
    """
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.dedup import (
        span_coverage,
    )

    n = max(starts) + window + 3  # unique tail keeps the docs non-identical
    region = {p for s in starts for p in range(s, s + window)}
    text_a = " ".join(f"sh{i}" if i in region else f"a{i}" for i in range(n))
    text_b = " ".join(f"sh{i}" if i in region else f"b{i}" for i in range(n))
    docs = spark.createDataFrame(
        [(1, text_a), (2, text_b)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in span_coverage(docs, window=window).collect()}
    assert out[1].covered_tokens == len(region)
    assert out[2].covered_tokens == len(region)
    assert out[1].n_tokens == n


@settings(max_examples=5, deadline=None)
@given(st.lists(money, min_size=1, max_size=200), st.integers(1, 7))
def test_exact_sum_is_partitioning_invariant(spark, values, parts):
    """The exact-decimal sum must be bit-identical regardless of how rows
    are partitioned — the property that makes cross-engine hashes stable."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    a = df.coalesce(1).agg(exact_sum("v", 2).alias("s")).head().s
    b = df.repartition(parts).agg(exact_sum("v", 2).alias("s")).head().s
    expected = float(sum(Decimal(f"{v:.2f}") for v in values))
    assert a == b == expected


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(-300, 300), min_size=1, max_size=50))
def test_bucket_by_ranges_matches_python(spark, keys):
    buckets = [(1, 50, "A"), (51, 100, "B"), (101, 200, "C")]

    def py_bucket(k):
        for lo, hi, label in buckets:
            if lo <= k <= hi:
                return label
        return "other"

    df = spark.createDataFrame([(k,) for k in keys], "k int")
    got = df.select(
        "k", bucket_by_ranges(F.col("k"), buckets, "other").alias("b")
    ).collect()
    for row in got:
        assert row.b == py_bucket(row.k)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 3)), min_size=1, max_size=60
    )
)
def test_sessionize_against_python_model(spark, raw):
    """Session boundaries must match a sequential single-machine model."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.windows import (
        sessionize,
    )

    rows = [
        (i, user, ts_sec * 1_000_000, 1.0, "e")
        for i, (ts_sec, user) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, value double, event_type string"
    )
    got = {
        (r.user_id, r.session_id): r.n_events
        for r in sessionize(df, gap_seconds=100).collect()
    }

    # python model: per user, sorted by (ts, event_id), split at gap > 100
    model: dict[tuple[int, int], int] = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (ts_sec, user) in enumerate(raw):
        by_user.setdefault(user, []).append((ts_sec, i))
    for user, evs in by_user.items():
        evs.sort()
        sid, prev = 0, None
        for ts_sec, _ in evs:
            if prev is None or ts_sec - prev > 100:
                sid += 1
            model[(user, sid)] = model.get((user, sid), 0) + 1
            prev = ts_sec
    assert got == model


# simple word-soup documents: enough structure for tokenization/quality
_words = st.sampled_from(
    ["the", "quick", "fox", "and", "of", "runs", "data", "spark", "a", "is"]
)
_doc_text = st.lists(_words, min_size=0, max_size=40).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=12), st.integers(1, 4))
def test_curation_budget_is_prefix_closed(spark, texts, parts):
    """Shrinking the token budget must select a PREFIX of the bigger
    budget's selection (in cum_tokens order) — the property that lets a
    budget sweep reuse one ranking. Also: cum_tokens is a valid running
    total under any input partitioning."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        curation,
    )

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).repartition(parts)
    # sort in the cumsum's own order (quality desc, doc_id) — sorting by
    # cum_tokens is ambiguous when 0-token docs tie
    full = sorted(
        curation.curate_documents(
            docs, min_quality=0.0, jaccard_threshold=1.1, token_budget=None
        ).collect(),
        key=lambda r: (-r.quality_score, r.doc_id),
    )
    running = 0
    for r in full:
        running += r.n_tokens
        assert r.cum_tokens == running
    if not full:
        return
    cut = full[len(full) // 2].cum_tokens
    small = curation.curate_documents(
        docs, min_quality=0.0, jaccard_threshold=1.1, token_budget=int(cut)
    ).collect()
    assert sorted(r.doc_id for r in small) == sorted(
        r.doc_id for r in full if r.cum_tokens <= cut
    )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.floats(-1.0, 1.0, width=32), min_size=4, max_size=4),
        min_size=2,
        max_size=10,
    ),
    st.floats(0.1, 0.9),
)
def test_embedding_near_dup_matches_numpy(spark, vecs, threshold):
    """Exact near-dup pairs must agree with a NumPy reference on rounded
    cosine (ignoring zero vectors, whose cosine is undefined)."""
    import numpy as np

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        dedup,
    )

    arr = np.array(vecs, dtype=np.float32).astype(np.float64)
    norms = np.linalg.norm(arr, axis=1)
    # the engine's only drop is an EXACTLY-zero norm (cosine folds to
    # NULL); a tiny-but-nonzero vector still has cosine(v, v) = 1.0 and
    # must pair — mirror that, no epsilon window
    keep = norms > 0.0
    expected = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if keep[i] and keep[j]:
                c = round(float(arr[i] @ arr[j] / (norms[i] * norms[j])), 6)
                if c >= threshold:
                    expected.add((i, j))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(emb, threshold).collect()
        if keep[r.id_a] and keep[r.id_b]
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(  # facts: (fact_id implied by index, key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # dim versions: (key, valid_from)
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        min_size=1,
        max_size=12,
    ),
)
def test_point_in_time_join_equals_naive_range_join(spark, facts, versions):
    """The union-sort PIT shape must agree with the naive
    join-on-key + `valid_from <= ts < valid_to` formulation for arbitrary
    key/timestamp patterns — including duplicate valid_froms (zero-width
    versions), facts before any version, and keys with no versions."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
        point_in_time_join,
    )

    facts_df = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(facts)], ["fid", "k", "ts"]
    )
    # per-key sequential version_no in valid_from order; duplicate
    # (key, valid_from) pairs are KEPT — they are the zero-width-version
    # case (SCD2 change events tying on timestamp) that seq_col resolves
    dim_rows = []
    per_key: dict[int, int] = {}
    for k, vf in sorted(versions):
        per_key[k] = per_key.get(k, 0) + 1
        dim_rows.append((k, vf, per_key[k], f"a{k}_{vf}_{per_key[k]}"))
    dim_df = spark.createDataFrame(
        dim_rows, ["k", "valid_from", "version_no", "attr"]
    )

    out = point_in_time_join(
        facts_df, dim_df, key="k", ts_col="ts", from_col="valid_from",
        attr_cols=["attr", "version_no"], seq_col="version_no",
    )
    got = {(r.fid, r.dim_attr, r.dim_version_no) for r in out.collect()}

    # naive range join: valid_to = next valid_from per key
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("valid_from", "version_no")
    ranged = dim_df.withColumn("valid_to", F.lead("valid_from").over(w))
    naive = facts_df.join(
        ranged,
        (facts_df["k"] == ranged["k"])
        & (facts_df["ts"] >= ranged["valid_from"])
        & (ranged["valid_to"].isNull() | (facts_df["ts"] < ranged["valid_to"])),
        "left",
    )
    want = {(r.fid, r.attr, r.version_no) for r in naive.collect()}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 99)), max_size=15),
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 99), st.booleans()),
        max_size=15,
        unique_by=lambda t: t[0],  # one source row per key, as MERGE requires
    ),
)
def test_merge_upsert_matches_sql_merge_semantics(spark, target, source):
    """merge_upsert must equal the SQL MERGE reference: WHEN MATCHED AND
    del THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    INSERT — the delete branch gates on MATCHED only."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
        merge_upsert,
    )

    # target keys unique too (it's a keyed table)
    tgt = {k: v for k, v in target}
    target_df = spark.createDataFrame(
        [(k, v, False) for k, v in tgt.items()], "k long, v long, del boolean"
    )
    source_df = spark.createDataFrame(
        list(source) or [], "k long, v long, del boolean"
    )

    out = merge_upsert(
        target_df, source_df, ["k"], delete_condition=F.col("del")
    )
    got = {(r.k, r.v, r.del_) if hasattr(r, "del_") else (r.k, r.v, r["del"])
           for r in out.collect()}

    # python reference MERGE
    want = dict(tgt)  # k -> v (del flag False for surviving target rows)
    ref = {k: (v, False) for k, v in want.items()}
    for k, v, d in source:
        if k in ref:
            if d:
                del ref[k]          # matched + delete
            else:
                ref[k] = (v, d)     # matched -> update
        else:
            ref[k] = (v, d)         # not matched -> insert (even if d)
    assert got == {(k, v, d) for k, (v, d) in ref.items()}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.floats(-1.0, 1.0, width=32), min_size=4, max_size=4),
            st.integers(1, 4),  # copies — exact-dup groups are the point
        ),
        min_size=1,
        max_size=5,
    ),
    st.floats(0.1, 0.9),
)
def test_embedding_near_dup_collapse_expand_matches_numpy(spark, groups, threshold):
    """The collapse-first pairs formulation must agree with the NumPy
    all-pairs reference when the corpus is dominated by exact duplicates
    — the intra-group (self-cosine) expansion, cross-group orientation by
    member id, and zero-vector drops all exercised with interleaved ids."""
    import numpy as np

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        dedup,
    )

    # interleave group members across the id space so member ids do NOT
    # follow rep order (the least/greatest orientation case)
    flat = []
    for g, (v, copies) in enumerate(groups):
        for c in range(copies):
            flat.append((g + 97 * c, v))
    ids = [i for i, _ in flat]
    assert len(set(ids)) == len(ids)
    arr = np.array([v for _, v in flat], dtype=np.float32).astype(np.float64)
    norms = np.linalg.norm(arr, axis=1)
    # the engine's only drop is an EXACTLY-zero norm (cosine folds to
    # NULL); a tiny-but-nonzero vector still has cosine(v, v) = 1.0 and
    # must pair — mirror that, no epsilon window
    keep = norms > 0.0
    expected = set()
    for i in range(len(flat)):
        for j in range(len(flat)):
            a, b = ids[i], ids[j]
            if a < b and keep[i] and keep[j]:
                c = round(float(arr[i] @ arr[j] / (norms[i] * norms[j])), 6)
                if c >= threshold:
                    expected.add((a, b))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in flat],
        "vec_id long, embedding array<float>, label int",
    )
    # engine output asserted UNFILTERED: zero-norm vectors must already
    # be absent (NULL cosine → dropped), including duplicated zero-norm
    # groups on the intra-pair expansion path
    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(emb, threshold).collect()
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=10), st.integers(1, 4))
def test_simhash_matches_hashlib_model(spark, texts, parts):
    """with_simhash's md5 bit votes equal an independent hashlib model on
    arbitrary word-soup corpora under any partitioning — the full
    cross-engine contract (bit b = bit b%4 of md5 hex digit b//4, ±1
    votes per token occurrence, Java-wrap packed long, NULL for
    token-less docs), not just the one pinned example."""
    import hashlib

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        dedup,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).repartition(parts)
    got = {
        r.doc_id: r.simhash for r in dedup.with_simhash(docs).collect()
    }
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            assert got[i] is None
            continue
        votes = [0] * 64
        for tok in toks:
            h = hashlib.md5(tok.encode()).hexdigest()
            for b in range(64):
                votes[b] += 1 if (int(h[b // 4], 16) >> (b % 4)) & 1 else -1
        exp = sum((1 << b) for b in range(64) if votes[b] > 0)
        if exp >= 1 << 63:
            exp -= 1 << 64
        assert got[i] == exp


_vec8 = st.lists(
    st.floats(-2.0, 2.0, allow_nan=False, width=32), min_size=8, max_size=8
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_vec8, min_size=1, max_size=8), st.integers(1, 3))
def test_lsh_bands_match_pure_fold_model(spark, vecs, parts):
    """The refine-and-verify sign bits equal a pure sequential-fold
    model (the op sequence the SQL oracle runs) on arbitrary vectors —
    i.e. the GEMM + margin + exact-fold re-decision is indistinguishable
    from folding every dot, which is the whole contract."""
    import hashlib

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        similarity,
    )

    n_bands, rows = 2, 4
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).repartition(parts)
    got = {
        r.vec_id: list(r.lsh_bands)
        for r in similarity.with_lsh_bands(emb, n_bands, rows, dim=8).collect()
    }
    planes = []
    for p in range(n_bands * rows):
        row = []
        for d in range(8):
            m = int(hashlib.md5(f"42:{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append((2.0 * m - 4294967296.0) / 4294967296.0)
        planes.append(row)
    for i, v in enumerate(vecs):
        # width=32 floats are float32-exact, so the engine's
        # array<float> -> array<double> cast is the identity here
        dv = [float(x) for x in v]
        bits = []
        for p in range(n_bands * rows):
            s = 0.0
            for x, y in zip(dv, planes[p]):
                s = s + x * y
            bits.append(s > 0.0)
        exp = [
            sum((1 << j) for j in range(rows) if bits[b * rows + j])
            for b in range(n_bands)
        ]
        assert got[i] == exp


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.lists(st.floats(-2.0, 2.0, allow_nan=False, width=32),
                      min_size=4, max_size=4), min_size=1, max_size=6),
    st.integers(1, 3),
)
def test_pq_assign_matches_pure_fold_model(spark, svs, parts):
    """_pq_assign's GEMM + margin + exact-fold re-decision equals the
    pure fold argmin (min by (dist, code), the SQL formulation) on
    arbitrary subvectors and a fixed 4-entry codebook containing exact
    ties and near-ties."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        similarity,
    )

    book = {5: [1.0, 0.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0, 0.0],
            7: [1.0, 0.0, 0.0, 0.0], 0: [-1.0, 0.0, 0.5, 0.0]}
    sub = spark.createDataFrame(
        [(i, 0, v) for i, v in enumerate(svs)],
        "vec_id long, j int, sv array<double>",
    ).repartition(parts)
    cents = spark.createDataFrame(
        [(0, c, v) for c, v in book.items()], "j int, code int, cv array<double>"
    )
    got = {
        r.vec_id: r.code
        for r in similarity._pq_assign(sub, cents, "vec_id").collect()  # noqa: SLF001
    }
    for i, v in enumerate(svs):
        dv = [float(x) for x in v]
        scored = []
        for c in sorted(book):
            s = 0.0
            for x, y in zip(dv, book[c]):
                d = x - y
                s = s + d * d
            scored.append((s, c))
        assert got[i] == min(scored)[1]


# ---- late-round-5 algorithm families vs their pure-Python references ----

_word = st.text(alphabet="ab", min_size=1, max_size=4)
_sentence = st.lists(_word, min_size=1, max_size=8).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_sentence, min_size=1, max_size=10), st.integers(1, 6))
def test_bpe_train_matches_reference_on_random_corpora(spark, texts, k):
    """Random tiny-alphabet corpora maximize merge-rule tie-breaking and
    overlapping-pair edge cases ('a a a'); the trainer must match the
    reference trajectory exactly, including early stops."""
    from tests.test_bpe import _ref_bpe
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        bpe,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe.bpe_train(docs, merges=k).collect()]
    want, _, _ = _ref_bpe(texts, k)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 4),
)
def test_pagerank_matches_reference_on_random_graphs(spark, pairs, iters):
    """Random directed graphs (dangling nodes, self-loop-free multi-
    edges, disconnected components) must reproduce the reference's
    integer trajectory exactly."""
    from tests.test_graph import _ref_pagerank
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        graph,
    )

    edges = [(f"n{a}", f"n{b}") for a, b in pairs]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.mass for r in graph.pagerank(df, iters=iters).collect()}
    assert got == _ref_pagerank(edges, iters)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(_sentence, st.booleans()), min_size=1, max_size=8
    )
)
def test_dsir_matches_reference_on_random_corpora(spark, rows):
    """Random corpora with random seed-set membership: weights (exact
    micro-unit integers) must match the reference, including hash-cell
    collisions forced by the tiny bucket count."""
    from tests.test_dsir import _ref_weights
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        dsir,
    )

    docs = [(i, t, flag) for i, (t, flag) in enumerate(rows)]
    df = spark.createDataFrame(
        [(i, t, "en" if flag else "xx") for i, t, flag in docs],
        "doc_id long, text string, lang string",
    )
    got = {
        r.doc_id: (r.n_feats, r.weight_micro)
        for r in dsir.dsir_weights(df, F.col("lang") == "en", buckets=16).collect()
    }
    assert got == _ref_weights(docs, 16)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["append", "rename", "drop", "add", "readd",
                                   "overwrite", "optimize", "dvdel",
                                   "dvupd"]),
                  st.integers(0, 5)),
        min_size=1,
        max_size=8,
    )
)
def test_column_mapping_state_machine_matches_model(spark, tmp_path_factory, ops):
    """Model-based check of the txlog schema-evolution state machine:
    arbitrary interleavings of append / rename / drop / add /
    re-add-dropped-name / overwrite / optimize / deletion-vector
    delete and update must keep `read()` equal
    to a plain Python reference model — in particular, a re-added
    column name must NEVER resurrect the dropped column's values, and
    refused operations must leave the table state untouched."""
    import pytest as _pytest

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )

    root = str(tmp_path_factory.mktemp("sm") / "t")
    log = TableLog(spark, root)

    # model: ordered column list + list of row dicts; rid (col 0) is
    # never renamed/dropped so rows stay identifiable
    cols = ["rid", "a", "b"]
    rows: list[dict] = []
    dropped_names: list[str] = []
    counter = [0]
    name_seq = [0]

    def fresh_rows(k: int) -> list[dict]:
        out = []
        for _ in range(k):
            counter[0] += 1
            out.append(
                {c: counter[0] * 100 + j for j, c in enumerate(cols)}
            )
        return out

    def write(mode: str, new_rows: list[dict]) -> None:
        df = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in new_rows],
            ", ".join(f"`{c}` long" for c in cols),
        )
        log.write(df, mode=mode)

    write("overwrite", (init := fresh_rows(2)))
    rows.extend(init)

    for op, arg in ops:
        if op == "append":
            new = fresh_rows(1 + arg % 2)
            write("append", new)
            rows.extend(new)
        elif op == "rename" and len(cols) > 1:
            i = 1 + arg % (len(cols) - 1)
            old = cols[i]
            name_seq[0] += 1
            new = f"c{name_seq[0]}"
            log.rename_column(old, new)
            cols[i] = new
            for r in rows:
                r[new] = r.pop(old)
        elif op == "drop" and len(cols) > 2:
            i = 1 + arg % (len(cols) - 1)
            victim = cols[i]
            log.drop_column(victim)
            dropped_names.append(victim)
            cols.remove(victim)
            for r in rows:
                r.pop(victim, None)
        elif op == "add":
            name_seq[0] += 1
            new = f"c{name_seq[0]}"
            log.add_column(new, "bigint")
            cols.append(new)
            for r in rows:
                r[new] = None
        elif op == "readd" and dropped_names:
            name = dropped_names[arg % len(dropped_names)]
            if name in cols:
                continue
            log.add_column(name, "bigint")
            cols.append(name)
            for r in rows:
                r[name] = None  # never the dropped values
        elif op == "overwrite":
            new = fresh_rows(1 + arg % 2)
            write("overwrite", new)
            rows.clear()
            rows.extend(new)
            dropped_names.clear()
        elif op == "optimize":
            log.optimize(n_files=1)
        elif op == "dvdel" and rows:
            victim = rows[arg % len(rows)]["rid"]
            log.delete([("rid", "==", victim)], via="dv")
            rows[:] = [r for r in rows if r["rid"] != victim]
        elif op == "dvupd" and rows and len(cols) > 1:
            victim = rows[arg % len(rows)]["rid"]
            col = cols[1 + arg % (len(cols) - 1)]
            log.update([("rid", "==", victim)], {col: f"`{col}` + 7"}, via="dv")
            for r in rows:
                if r["rid"] == victim and r[col] is not None:
                    r[col] += 7  # SQL NULL + 7 stays NULL
        # exercise a REFUSED op leaving state untouched: appending a
        # column that aliases a dropped PHYSICAL name must raise, not
        # corrupt (the tombstone records physical names — after a
        # rename they differ from the dropped logical name, and
        # re-using the logical name is legitimately allowed)
        tomb = [
            t for t in log.snapshot().dropped_physical if t not in cols
        ]
        if tomb:
            bad_cols = cols + [tomb[-1]]
            bad = spark.createDataFrame(
                [tuple(0 for _ in bad_cols)],
                ", ".join(f"`{c}` long" for c in bad_cols),
            )
            with _pytest.raises(ValueError, match="add_column"):
                log.write(bad, mode="append")

    got = [r.asDict() for r in log.read().collect()]
    assert sorted(log.read().columns) == sorted(cols)
    canon = lambda rs: sorted(
        (tuple(r.get(c) for c in sorted(cols)) for r in rs),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    assert canon(got) == canon(rows)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["id", "v"]),
            st.sampled_from(["=", "<", "<=", ">", ">=", "BETWEEN"]),
            st.integers(-5, 15),
            st.integers(-5, 15),
        ),
        min_size=1,
        max_size=3,
    )
)
def test_sql_where_parser_agrees_with_spark(spark, terms):
    """The DML WHERE parser must select exactly the rows Spark's own SQL
    WHERE selects for the same clause — on data including boundary
    values, so off-by-one operator mix-ups can't hide."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        _where_dnf,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        _as_column,
    )

    clause = " AND ".join(
        f"{c} BETWEEN {min(a, b)} AND {max(a, b)}"
        if op == "BETWEEN"
        else f"{c} {op} {a}"
        for c, op, a, b in terms
    )
    df = spark.createDataFrame(
        [(i, (i * 7) % 13 - 5) for i in range(-5, 16)], "id long, v long"
    )
    df.createOrReplaceTempView("__wt")
    expected = sorted(
        r.id for r in spark.sql(f"SELECT id FROM __wt WHERE {clause}").collect()
    )
    (filters,) = _where_dnf(spark, clause)  # an AND has one disjunct
    got = df
    for f in filters:
        got = got.filter(_as_column(f))
    assert sorted(r.id for r in got.select("id").collect()) == expected


# round 8: the WHERE grammar grew OR + parentheses (DNF file pruning) —
# extend the parser-agreement property to random boolean trees
_leaf = st.tuples(
    st.sampled_from(["id", "v"]),
    st.sampled_from(["=", "<", "<=", ">", ">=", "BETWEEN"]),
    st.integers(-5, 15),
    st.integers(-5, 15),
)


def _leaf_sql(t) -> str:
    c, op, a, b = t
    if op == "BETWEEN":
        return f"{c} BETWEEN {min(a, b)} AND {max(a, b)}"
    return f"{c} {op} {a}"


_tree = st.recursive(
    _leaf.map(_leaf_sql),
    lambda kids: st.tuples(
        kids, st.sampled_from(["AND", "OR"]), kids, st.booleans()
    ).map(
        lambda t: (f"({t[0]}) {t[1]} ({t[2]})" if t[3] else f"{t[0]} {t[1]} {t[2]}")
    ),
    max_leaves=5,
)


@settings(max_examples=20, deadline=None)
@given(_tree)
def test_sql_where_dnf_parser_agrees_with_spark(spark, clause):
    """Random AND/OR/paren predicate trees: the DNF parse + _dnf_column
    must select exactly the rows Spark's own SQL WHERE selects, AND a
    txlog DELETE with that predicate must keep exactly the complement —
    file pruning (union of per-disjunct candidate sets) can narrow the
    scan but never the semantics."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        _where_dnf,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        _dnf_column,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 13 - 5) for i in range(-5, 16)], "id long, v long"
    )
    df.createOrReplaceTempView("__wt_dnf")
    expected = sorted(
        r.id
        for r in spark.sql(f"SELECT id FROM __wt_dnf WHERE {clause}").collect()
    )
    dnf = _where_dnf(spark, clause)
    got = df.filter(_dnf_column(dnf))
    assert sorted(r.id for r in got.select("id").collect()) == expected


def test_sql_where_dnf_delete_matches_spark_semantics(spark, tmp_path):
    """End-to-end row-op equivalence for an OR predicate chosen to span
    multiple files: DELETE through the DNF path keeps exactly the rows
    Spark's WHERE complement keeps."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        _where_dnf,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )

    clause = "(id < 0 AND v > 0) OR id BETWEEN 8 AND 12 OR v = -5"
    rows = [(i, (i * 7) % 13 - 5) for i in range(-5, 16)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(4)
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(df)
    log.delete(_where_dnf(spark, clause))
    kept = sorted(r.id for r in log.read().collect())
    df.createOrReplaceTempView("__wt_del")
    want = sorted(
        r.id
        for r in spark.sql(
            f"SELECT id FROM __wt_del WHERE NOT coalesce(({clause}), false)"
        ).collect()
    )
    assert kept == want


# round 9: the WHERE grammar grew IN (…) / IS [NOT] NULL / != / <> /
# prefix NOT — extend the parser-agreement property to those shapes,
# over data that actually contains NULLs (tri-state semantics must
# agree with Spark's own WHERE, not just two-valued logic)
_cols9 = st.sampled_from(["id", "v", "w"])


def _in_sql(t) -> str:
    c, neg, vals = t
    return f"{c} {'NOT ' if neg else ''}IN ({', '.join(map(str, vals))})"


_leaf9 = st.one_of(
    st.tuples(
        _cols9,
        st.sampled_from(["=", "!=", "<>", "<", "<=", ">", ">="]),
        st.integers(-5, 15),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.tuples(
        _cols9, st.booleans(), st.lists(st.integers(-5, 15), min_size=1, max_size=4)
    ).map(_in_sql),
    st.tuples(_cols9, st.booleans()).map(
        lambda t: f"{t[0]} IS {'NOT ' if t[1] else ''}NULL"
    ),
    st.tuples(
        _cols9, st.integers(-5, 15), st.integers(-5, 15), st.booleans()
    ).map(
        lambda t: f"{t[0]} {'NOT ' if t[3] else ''}BETWEEN "
        f"{min(t[1], t[2])} AND {max(t[1], t[2])}"
    ),
)
_leaf9n = st.tuples(_leaf9, st.booleans()).map(
    lambda t: ("NOT " + t[0]) if t[1] else t[0]
)

_tree9 = st.recursive(
    _leaf9n,
    lambda kids: st.one_of(
        st.tuples(
            kids, st.sampled_from(["AND", "OR"]), kids, st.booleans()
        ).map(
            lambda t: (
                f"({t[0]}) {t[1]} ({t[2]})" if t[3] else f"{t[0]} {t[1]} {t[2]}"
            )
        ),
        # NOT over a parenthesized group: pushed to the leaves by De Morgan
        kids.map(lambda k: f"NOT ({k})"),
    ),
    max_leaves=4,
)


@settings(max_examples=25, deadline=None)
@given(_tree9)
def test_sql_where_round9_grammar_agrees_with_spark(spark, clause):
    """Random predicate trees over the round-9 leaf grammar (IN / NOT
    IN / IS [NOT] NULL / != / <> / NOT / NOT BETWEEN) on data WITH
    NULLs: the DNF parse + _dnf_column must select exactly the rows
    Spark's own SQL WHERE selects — SQL tri-state included."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        _where_dnf,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        _dnf_column,
    )

    rows = [
        (i, (i * 7) % 13 - 5, None if i % 3 == 0 else i % 5)
        for i in range(-5, 16)
    ]
    df = spark.createDataFrame(rows, "id long, v long, w long")
    df.createOrReplaceTempView("__wt9")
    expected = sorted(
        r.id
        for r in spark.sql(f"SELECT id FROM __wt9 WHERE {clause}").collect()
    )
    dnf = _where_dnf(spark, clause)
    got = df.filter(_dnf_column(dnf))
    assert sorted(r.id for r in got.select("id").collect()) == expected


@settings(max_examples=10, deadline=None)
@given(_tree9)
def test_sql_where_round9_delete_matches_spark(spark, tmp_path_factory, clause):
    """The same random round-9 predicates driven through an actual
    txlog DELETE over a multi-file table: the kept set must equal
    Spark's WHERE complement (stats pruning — now including null-count
    and membership pruning — can narrow the scan, never the
    semantics)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        _where_dnf,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )

    rows = [
        (i, (i * 7) % 13 - 5, None if i % 3 == 0 else i % 5)
        for i in range(-5, 16)
    ]
    df = spark.createDataFrame(rows, "id long, v long, w long").repartition(4)
    log = TableLog(
        spark, str(tmp_path_factory.mktemp("r9del") / "t")
    )
    log.write(df)
    log.delete(_where_dnf(spark, clause))
    kept = sorted(r.id for r in log.read().collect())
    df.createOrReplaceTempView("__wt9_del")
    want = sorted(
        r.id
        for r in spark.sql(
            f"SELECT id FROM __wt9_del WHERE NOT coalesce(({clause}), false)"
        ).collect()
    )
    assert kept == want
