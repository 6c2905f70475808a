"""Round-14 invariants: the tokenizer swap-adoption policy (x266) and
its policy-routed serve (x267) exercised on BOTH branches — facts the
gate corpus cannot show because its blast radius sits on the swap side
of the budget.  The hold branch is pinned against a PURE-PYTHON
re-tokenization under the base rules (independent of the lexicon
store plumbing), and the routing is proven to matter: the two branches
serve different token streams on the fixture."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from json_to_parquet_spark.queries.tokenizer import (
    BPE_CDC_MOD,
    RETOK_SWAP_DEN,
    RETOK_SWAP_NUM,
    _bpe_apply,
    _bpe_merge_rules,
)


def _file_hashes(root):
    """{relative_path: sha256} over every data file under ``root``,
    excluding marker files (recreated per write)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("_") or f.startswith("."):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = hashlib.sha256(
                open(p, "rb").read()
            ).hexdigest()
    return out


def _write_docs(dest_dir: str, rows: list[tuple[int, str]]) -> None:
    os.makedirs(dest_dir, exist_ok=True)
    ids = [i for i, _ in rows]
    texts = [t for _, t in rows]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(dest_dir, "documents.parquet"),
    )


@pytest.fixture(scope="module")
def hold_src(tmp_path_factory):
    """Corpus whose ingestion slice (doc_id ≡ 3 mod BPE_CDC_MOD) floods
    a new word ('bc') so hard that >NUM/DEN of all token occurrences
    re-encode under the retrained rules — the decision must be
    'hold'."""
    src = str(tmp_path_factory.mktemp("hold") / "src")
    rows = []
    for i in range(20):
        if i % BPE_CDC_MOD == 3:
            rows.append((i, "bc bc bc bc bc bc bc bc bc bc"))
        else:
            rows.append((i, "abcab abcab dabc dabc cabd"))
    _write_docs(src, rows)
    return src


def _pure_python_retok(src: str, which: str) -> dict[int, tuple[int, str]]:
    """{doc_id: (n_tokens, tok_md5)} computed with no Spark and no
    lexicon store: train base rules on the base slice (and full rules
    on everything when ``which='full'``), then re-encode every doc
    word-by-word in order."""
    from collections import Counter

    tbl = pq.read_table(os.path.join(src, "documents.parquet"))
    docs = list(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    base_vocab: Counter = Counter()
    full_vocab: Counter = Counter()
    for i, t in docs:
        for w in t.lower().split():
            if not w:
                continue
            full_vocab[tuple(w)] += 1
            if i % BPE_CDC_MOD != 3:
                base_vocab[tuple(w)] += 1
    rules = _bpe_merge_rules(
        dict(full_vocab if which == "full" else base_vocab)
    )
    out = {}
    for i, t in docs:
        toks = []
        for w in t.lower().split():
            if w:
                toks.extend(_bpe_apply(tuple(w), rules))
        out[i] = (
            len(toks),
            hashlib.md5(" ".join(toks).encode()).hexdigest(),
        )
    return out


def test_x266_hold_branch_decides_hold(spark, hold_src):
    from json_to_parquet_spark.queries.tokenizer import (
        x266_retok_swap_policy,
    )

    row = x266_retok_swap_policy(spark, hold_src).collect()[0]
    assert row.decision == "hold"
    # the integer rule itself, re-made here
    assert row.occ_changed * RETOK_SWAP_DEN > row.occ_total * RETOK_SWAP_NUM
    assert (row.swap_num, row.swap_den) == (RETOK_SWAP_NUM, RETOK_SWAP_DEN)


def test_x267_hold_branch_serves_base_rules(spark, hold_src):
    """Under 'hold', every document's served token stream equals the
    pure-Python base-rules re-tokenization (new words get the
    on-demand base-rules encode), and differs from the retrained
    stream on at least one slice doc — the routing matters."""
    from json_to_parquet_spark.queries.tokenizer import (
        x267_policy_routed_retok,
    )

    got = {
        r.doc_id: (r.decision, r.n_tokens, r.tok_md5)
        for r in x267_policy_routed_retok(spark, hold_src).collect()
    }
    want_base = _pure_python_retok(hold_src, "base")
    want_full = _pure_python_retok(hold_src, "full")
    assert set(got) == set(want_base)
    for i, (dec, n, h) in got.items():
        assert dec == "hold"
        assert (n, h) == want_base[i], f"doc {i} not base-rules-served"
    assert any(
        want_base[i] != want_full[i] for i in want_base
    ), "fixture must make the two branches serve different streams"


def test_x267_swap_branch_matches_x256(spark, sf_dir):
    """On the gate corpus the policy decides 'swap' (x253's measured
    blast radius fits the budget) and the routed serve is byte-for-byte
    x256's migrated-store serve."""
    from json_to_parquet_spark.queries.tokenizer import (
        x256_retok_execute,
        x266_retok_swap_policy,
        x267_policy_routed_retok,
    )

    assert (
        x266_retok_swap_policy(spark, sf_dir).collect()[0].decision
        == "swap"
    )
    routed = {
        r.doc_id: (r.decision, r.n_tokens, r.tok_md5)
        for r in x267_policy_routed_retok(spark, sf_dir).collect()
    }
    direct = {
        r.doc_id: (r.n_tokens, r.tok_md5)
        for r in x256_retok_execute(spark, sf_dir).collect()
    }
    assert set(routed) == set(direct)
    for i, (dec, n, h) in routed.items():
        assert dec == "swap"
        assert (n, h) == direct[i]


# --- x268/x269: localized-drift re-index — physical incrementality ----------


def test_x268_locdrift_migration_is_incremental(spark, sf_dir, tmp_path):
    """VERDICT r11 ask #3's byte-identity half, on the REGISTERED
    path's own machinery: after phase 1 (pre-drift-quantizer layout)
    and phase 2 (touched-cell migration), every UNTOUCHED cell's data
    files are byte-identical to their phase-1 state, every touched
    cell's partition was physically replaced, and the merged layout
    holds EXACTLY the re-seeded quantizer's assignment."""
    from json_to_parquet_spark.queries.similarity import (
        _locd_frames,
        _locd_migrate,
        _locd_write_base,
    )

    dest = str(tmp_path / "locd")
    _locd_write_base(spark, sf_dir, dest)
    before = _file_hashes(dest)

    _post, asn_old, asn_new = _locd_frames(spark, sf_dir)
    old = {r.vec_id: r.cell for r in asn_old.select("vec_id", "cell").collect()}
    new = {r.vec_id: r.cell for r in asn_new.select("vec_id", "cell").collect()}
    movers = {i for i in old if old[i] != new[i]}
    touched = {old[i] for i in movers} | {new[i] for i in movers}
    assert movers and touched, "fixture must move a blob"
    untouched = set(old.values()) | set(new.values())
    untouched -= touched
    assert untouched, "fixture must leave cells untouched"

    _locd_migrate(spark, sf_dir, dest)
    after = _file_hashes(dest)

    def _cell_of(relpath):
        part = relpath.split("/")[0]
        assert part.startswith("cell=")
        return int(part.split("=", 1)[1])

    cold_before = {p: h for p, h in before.items() if _cell_of(p) not in touched}
    cold_after = {p: h for p, h in after.items() if _cell_of(p) not in touched}
    assert cold_before == cold_after  # untouched cells byte-identical
    hot_before = {p for p in before if _cell_of(p) in touched}
    hot_after = {p for p in after if _cell_of(p) in touched}
    assert hot_before.isdisjoint(hot_after)  # touched partitions replaced

    got = {
        r.vec_id: r.cell
        for r in spark.read.parquet(dest).select("vec_id", "cell").collect()
    }
    assert got == new  # merged layout == the re-seeded assignment


def test_x269_ledger_laws(spark, sf_dir):
    """Engine-side laws of the localized ledger: migration executed
    (adopted + movers > 0) with NONZERO preservation — the regime the
    global-drift x261 row cannot show — and the integer identities
    between its columns hold."""
    from json_to_parquet_spark.queries.similarity import (
        x269_locdrift_reindex_io,
    )

    r = x269_locdrift_reindex_io(spark, sf_dir).collect()[0]
    assert r.adopted == "migrated"
    assert r.n_movers > 0
    assert 0 < r.pct_rows_preserved < 100
    assert r.rows_rewritten + r.rows_preserved == r.n_vecs
    assert r.n_cells_touched + r.n_cells_untouched == r.n_cells
    assert r.reseeded_max_pop < r.stale_max_pop  # the adoption criterion


# --- x271/x272: the OPTIMIZE adoption policy — both branches ----------------


@pytest.fixture(scope="module")
def dense_events_src(tmp_path_factory):
    """Events layout already near one file per target bin: 4 dates ×
    2000 rows (every date crosses COMPACT_TARGET_ROWS), so n_files (4)
    < 2 × n_bins (4) and the policy must decide 'hold'."""
    import datetime

    src = str(tmp_path_factory.mktemp("dense") / "evsrc_r14")
    os.makedirs(src, exist_ok=True)
    ids, tss, uids, types, vals, props = [], [], [], [], [], []
    eid = 0
    for day in range(4):
        base = datetime.datetime(2024, 3, 1 + day, 0, 0, 0)
        for i in range(2000):
            ids.append(eid)
            tss.append(base + datetime.timedelta(seconds=i))
            uids.append(eid % 97)
            types.append("click")
            vals.append(float(i % 10))
            props.append("{}")
            eid += 1
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(tss, pa.timestamp("us")),
                "user_id": pa.array(uids, pa.int64()),
                "event_type": pa.array(types),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(props),
            }
        ),
        os.path.join(src, "events.parquet"),
    )
    return src


def test_x271_hold_branch_decides_hold(spark, dense_events_src):
    from json_to_parquet_spark.queries.scale_layout import (
        LAYOPT_DEN,
        LAYOPT_NUM,
        x271_layout_compact_policy,
    )

    r = x271_layout_compact_policy(spark, dense_events_src).collect()[0]
    assert r.decision == "hold"
    assert r.n_files * LAYOPT_DEN < r.n_bins * LAYOPT_NUM
    assert (r.thr_num, r.thr_den) == (LAYOPT_NUM, LAYOPT_DEN)


def test_x272_hold_branch_never_builds_the_store(spark, dense_events_src):
    """Under 'hold' the routed serve reads the original layout with
    bins joined at read time: the served rows equal the logical bins'
    content (computed here straight off the events table, no layout),
    and the compacted store is NEVER built — the rewrite I/O the
    policy exists to avoid."""
    from pyspark.sql import functions as F

    from json_to_parquet_spark.queries.convert_gate import GATE_DIR
    from json_to_parquet_spark.queries.scale_layout import (
        COMPACT_TARGET_ROWS,
        _compaction_bins,
        _sf_tag,
        x272_policy_routed_layout_serve,
    )
    from json_to_parquet_spark.queries.store import data_fingerprint as _data_fingerprint
    from json_to_parquet_spark.sources.catalog import load_table

    got = x272_policy_routed_layout_serve(spark, dense_events_src).collect()
    assert got and all(r.decision == "hold" for r in got)

    store = os.path.join(
        GATE_DIR,
        f"events_cmp_{_sf_tag(dense_events_src)}_t{COMPACT_TARGET_ROWS}"
        f"_d{_data_fingerprint(dense_events_src, 'events')}",
    )
    assert not os.path.exists(store)  # no rewrite I/O was paid

    bins = _compaction_bins(spark, dense_events_src).select("d", "bin")
    ev = load_table(spark, dense_events_src, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
    )
    digest = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
    ).cast("decimal(38,0)")
    want = {
        r.bin: (r.n_rows, r.d_min, r.d_max, r.id_digest)
        for r in ev.join(F.broadcast(bins), "d")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
            (F.sum(digest) % F.lit(2**62)).cast("long").alias("id_digest"),
        )
        .collect()
    }
    assert {
        r.bin: (r.n_rows, r.d_min, r.d_max, r.id_digest) for r in got
    } == want


def test_x272_compact_branch_matches_x265(spark, sf_dir):
    """On the gate corpus (one small file per date) the policy decides
    'compact' and the routed serve is row-for-row x265's store serve."""
    from json_to_parquet_spark.queries.scale_layout import (
        x265_layout_compact_execute,
        x271_layout_compact_policy,
        x272_policy_routed_layout_serve,
    )

    assert (
        x271_layout_compact_policy(spark, sf_dir).collect()[0].decision
        == "compact"
    )
    routed = {
        r.bin: (r.decision, r.n_rows, r.d_min, r.d_max, r.id_digest)
        for r in x272_policy_routed_layout_serve(spark, sf_dir).collect()
    }
    direct = {
        r.bin: (r.n_rows, r.d_min, r.d_max, r.id_digest)
        for r in x265_layout_compact_execute(spark, sf_dir).collect()
    }
    assert set(routed) == set(direct)
    for b, (dec, n, lo, hi, dg) in routed.items():
        assert dec == "compact"
        assert (n, lo, hi, dg) == direct[b]


# --- x273/x274: incremental OPTIMIZE on append -------------------------------


def test_x273_append_merge_is_incremental(spark, dense_events_src, tmp_path):
    """After phase 1 (base-prefix compaction) and phase 2 (append
    merge), every bin no appended date lands in keeps its phase-1
    files byte-identical, every touched bin's partition was physically
    replaced, and the merged layout holds EXACTLY the full-corpus bin
    content (x265's full-rewrite answer)."""
    from pyspark.sql import functions as F

    from json_to_parquet_spark.queries.scale_layout import (
        EVENTS_APPEND_DATES,
        _bin_content_proof,
        _compaction_bins,
        _event_date_spine,
        _inc_append_merge,
        _inc_write_base,
        events_partitioned_path,
    )

    src = dense_events_src
    dest = str(tmp_path / "inc")
    _inc_write_base(spark, src, dest)
    before = _file_hashes(dest)

    spine = _event_date_spine(spark, src).collect()
    n = len(spine)
    appended = {r.d for r in spine if r.rn > n - EVENTS_APPEND_DATES}
    touched = {r.bin for r in spine if r.d in appended}
    preserved = {r.bin for r in spine} - touched
    assert appended and touched and preserved, (
        "fixture must append dates AND preserve bins"
    )

    _inc_append_merge(spark, src, dest)
    after = _file_hashes(dest)

    def _bin_of(relpath):
        part = relpath.split("/")[0]
        assert part.startswith("bin=")
        return int(part.split("=", 1)[1])

    cold_before = {p: h for p, h in before.items() if _bin_of(p) not in touched}
    cold_after = {p: h for p, h in after.items() if _bin_of(p) not in touched}
    assert cold_before == cold_after  # preserved bins byte-identical
    hot_after = {p for p in after if _bin_of(p) in touched}
    assert hot_after and {p for p in before if _bin_of(p) in touched}.isdisjoint(
        hot_after
    )

    # merged layout == the full OPTIMIZE's content, bin for bin
    got = {
        r.bin: (r.n_rows, r.d_min, r.d_max, r.id_digest)
        for r in _bin_content_proof(spark.read.parquet(dest)).collect()
    }
    bins = _compaction_bins(spark, src).select("d", "bin")
    full = (
        spark.read.parquet(events_partitioned_path(spark, src))
        .withColumn("d", F.col("d").cast("string"))
        .join(F.broadcast(bins), "d")
    )
    want = {
        r.bin: (r.n_rows, r.d_min, r.d_max, r.id_digest)
        for r in _bin_content_proof(full).collect()
    }
    assert got == want


def test_x274_ledger_laws(spark, dense_events_src):
    """Integer identities of the append ledger on the dense fixture:
    3 of 4 dates appended, exactly one bin preserved, and the
    row-conservation laws hold."""
    from json_to_parquet_spark.queries.scale_layout import (
        EVENTS_APPEND_DATES,
        x274_append_optimize_io,
    )

    r = x274_append_optimize_io(spark, dense_events_src).collect()[0]
    assert r.n_dates_appended == min(EVENTS_APPEND_DATES, r.n_dates)
    assert r.bins_rewritten + r.bins_preserved == r.n_bins
    assert r.rows_rewritten + r.rows_preserved == 8000
    assert r.bins_preserved > 0 and 0 < r.pct_rows_preserved < 100


def test_x271_file_count_rests_on_x149_one_file_per_date(spark, sf_dir):
    """ADVICE r12: x271's Spark side counts PHYSICAL files (via
    ``_metadata.file_path``) while its oracle's n_files is COUNT(*)
    over dates — equal only under the x149 one-file-per-date-partition
    invariant of ``events_partitioned_path``'s writer.  Pin that
    coupling here: if a layout-writer change ever produces a
    multi-file date, THIS test names the broken invariant instead of
    the gate failing with a confusing n_files diff (and possibly a
    flipped 'compact'/'hold' decision)."""
    from json_to_parquet_spark.queries.scale_layout import _compaction_bins

    per_date = _compaction_bins(spark, sf_dir).collect()
    assert per_date, "date spine must be non-empty"
    bad = [(r.d, r.n_files) for r in per_date if r.n_files != 1]
    assert not bad, (
        "x149 one-file-per-date invariant broken — x271's physical "
        f"file count no longer equals the oracle's date count: {bad}"
    )
