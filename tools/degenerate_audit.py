"""Degenerate-fixture audit: does every entry stay engine-consistent when
the driver's NEXT fixture regeneration ships an edge-case row?

The driver regenerates /root/testdata between rounds (encodings have
changed; content redraws every boundary). The libm audit covers numeric
margins; THIS audit covers content degeneracy — rows today's generator
happens not to emit but tomorrow's might, and that 100 TB real corpora
certainly contain: empty/whitespace-only documents, single-token docs,
punctuation-only docs, multibyte-unicode docs, zero embedding vectors
(cosine → 0/0), duplicate vectors, boundary event values.

Method: copy the sf0.001 fixtures into a scratch dir, append the edge
rows (schema-identical), then run the FULL driver-contract compare
(Spark vs DuckDB oracle) for every entry on the degenerate dir. An
entry that errors or hash-mismatches here is a latent driver red
waiting for a fixture regen — fix it NOW, not the round it fires.

Run:  python tools/degenerate_audit.py [entry ...]
Exit 0 = every entry matches on the degenerate fixtures.
"""

from __future__ import annotations

import os
import shutil
import sys

SRC = "/root/testdata/sf0.001"
DST = "/tmp/degen_sf"
#: DuckDB memory cap for each oracle run. An oracle whose memory grows
#: past it raises ``OutOfMemoryException`` and fails its case, instead
#: of growing the process until the kernel kills the whole sweep.
ORACLE_CONFIG = {"memory_limit": "4GB"}


def build_fixture(dst: str = DST) -> str:
    """Build the degenerate fixture into ``dst``. Callers that may run
    CONCURRENTLY with another builder (the pytest guard vs a CLI sweep)
    pass their own dir — the parquet COPY rewrites are not atomic, so
    sharing one dir across processes can read a truncated file."""
    import duckdb

    DST = dst
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation"):
        shutil.copy(os.path.join(SRC, f"{t}.parquet"), DST)

    # v8: TPC-H-side probes — the money columns are the same nullable
    # DOUBLEs as events.value (NaN possible in a regen, feeding the
    # same ANSI fixed-point casts), the date columns the same TS_COLS
    # class as events.ts, and the keys the same referential surface.
    # Keys sit far above the generator's range; dates inside its
    # [1995, 2001] window.
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/orders.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            -- NaN / NULL money (nulled at the catalog boundary)
            (9000001, 1, 'O', 'nan'::DOUBLE, TIMESTAMP '1997-06-15',
             '1-URGENT'),
            (9000002, 1, 'O', CAST(NULL AS DOUBLE),
             TIMESTAMP '1997-06-16', '5-LOW'),
            -- NULL order date (row dropped at the boundary)
            (9000003, 1, 'P', 123.45, CAST(NULL AS TIMESTAMP),
             '3-MEDIUM'),
            -- orphan customer key (referential probe)
            (9000004, 8999999, 'F', 50.0, TIMESTAMP '1997-06-17',
             '2-HIGH'),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), 1, 'O', 10.0,
             TIMESTAMP '1997-06-18', '5-LOW')
          ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              o_orderdate, o_orderpriority)
        ) TO '{DST}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/lineitem.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            -- NaN extendedprice / NULL quantity (nulled at boundary)
            (9000001, 1, 1, 1, 5.0, 'nan'::DOUBLE, 0.05, 0.02,
             'N', 'O', TIMESTAMP '1997-07-01'),
            (9000001, 1, 1, 2, CAST(NULL AS DOUBLE), 100.0, 0.0, 0.0,
             'N', 'O', TIMESTAMP '1997-07-02'),
            -- zero quantity at 100% discount (zero-revenue row) and a
            -- negative-quantity return
            (9000002, 2, 1, 1, 0.0, 0.0, 1.0, 0.0,
             'R', 'F', TIMESTAMP '1997-07-03'),
            (9000002, 2, 1, 2, -5.0, -500.0, 0.1, 0.0,
             'R', 'F', TIMESTAMP '1997-07-04'),
            -- NULL ship date (row dropped at the boundary)
            (9000003, 3, 1, 1, 1.0, 10.0, 0.0, 0.0,
             'N', 'O', CAST(NULL AS TIMESTAMP)),
            -- orphan order key (referential probe)
            (9000005, 3, 1, 1, 1.0, 10.0, 0.0, 0.0,
             'N', 'O', TIMESTAMP '1997-07-05'),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), 3, 1, 1, 1.0, 10.0, 0.0, 0.0,
             'N', 'O', TIMESTAMP '1997-07-06')
          ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber,
              l_quantity, l_extendedprice, l_discount, l_tax,
              l_returnflag, l_linestatus, l_shipdate)
        ) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/customer.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8999001, 'degen nan balance', 0, 'nan'::DOUBLE,
             'HOUSEHOLD'),
            -- empty name, NULL balance, novel segment enum
            (8999002, '', 0, CAST(NULL AS DOUBLE), 'NOVEL_SEGMENT'),
            -- orphan nation key
            (8999003, 'orphan nation', 99, 0.0, 'MACHINERY'),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), 'identity-less customer', 0, 1.0,
             'BUILDING')
          ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
        ) TO '{DST}/customer.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/part.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8999001, 'degen part nan', 'Brand#99', 'NOVEL_TYPE', 0,
             'nan'::DOUBLE),
            (8999002, '', 'Brand#13', 'ECONOMY', -1,
             CAST(NULL AS DOUBLE))
          ) t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
        ) TO '{DST}/part.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/supplier.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8999001, 'degen supp', 99, 'nan'::DOUBLE)
          ) t(s_suppkey, s_name, s_nationkey, s_acctbal)
        ) TO '{DST}/supplier.parquet' (FORMAT PARQUET)
        """
    )

    # documents: preserve encodings via CTAS-union. doc_ids far above the
    # fixture range; n_chars consistent with text (the generator contract).
    # Includes NULL text/lang (v2) — NULLs entering group keys, length
    # arithmetic, and rank measures exercise the NULLS-placement and
    # NULL-propagation divergence classes directly.
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/documents.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (900001, '', 'en', 'src0', 0),
            (900002, '   ', 'en', 'src0', 3),
            (900003, 'word', 'en', 'src1', 4),
            (900004, '!!! ??? ... ---', 'en', 'src1', 15),
            (900005, 'héllo wörld 中文 привет héllo wörld 中文 привет',
             'de', 'src2', 44),
            (900006, 'dup dup dup dup dup dup dup dup dup dup dup dup',
             'en', 'src2', 47),
            (900007, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
             'src0', CAST(NULL AS BIGINT)),
            (900008, 'plain text here', CAST(NULL AS VARCHAR), 'src1', 15),
            (900009, 'novel language and source document text',
             'xx', 'src_novel', 39),
            -- v4: full-vs-simple case-mapping divergence probes (İ adds a
            -- combining dot under JVM FULL lower; ΣΟΦΟΣ final sigma is
            -- context-sensitive; ß/ﬁ expand under FULL upper). Any surface
            -- still calling engine lower()/upper() instead of the portable
            -- ascii_lower flips on this row.
            (900010, 'İstanbul ß ΣΟΦΟΣ ﬁle DŽUNGLA Iı MIXED Case',
             'tr', 'src2', length('İstanbul ß ΣΟΦΟΣ ﬁle DŽUNGLA Iı MIXED Case')),
            -- v4: exotic-whitespace probe (VT U+000B, FF, CR, NBSP).
            -- Java's \\s matches VT, RE2's does not — any surface still
            -- tokenizing on \\s+ instead of the explicit WS_CLASS flips
            -- here. NBSP is a NON-space on both engines (stays in-token).
            (900011, concat('alpha', chr(11), 'beta', chr(12), 'gamma',
                            chr(13), 'delta', chr(160), 'epsilon  zeta'),
             'en', 'src0',
             length(concat('alpha', chr(11), 'beta', chr(12), 'gamma',
                           chr(13), 'delta', chr(160), 'epsilon  zeta'))),
            -- v4: leading/trailing UNICODE whitespace (NBSP + U+3000).
            -- One-arg DuckDB trim strips these, Spark's strips ASCII
            -- space only — any oracle still using one-arg trim flips.
            (900012, concat(chr(160), 'nbsp edges here', chr(12288)),
             'en', 'src1',
             length(concat(chr(160), 'nbsp edges here', chr(12288)))),
            -- v4: emoji / combining char / supplementary plane — pins the
            -- measured code-point agreement of length/substr/regex.
            (900013, 'emoji 👍 text é combining 🇫🇷 flag',
             'en', 'src2', length('emoji 👍 text é combining 🇫🇷 flag')),
            -- v5: size-dimension probes — a ~53k-char document and a
            -- single 5000-char word push per-doc machinery (shingles,
            -- winnowing windows, BPE symbol folds, char-entropy grids,
            -- chunking) far beyond the generator's length range; both
            -- must stay engine-consistent, not just not-crash.
            (900014,
             repeat('the quick brown fox jumps over the lazy dog ', 1200),
             'en', 'src0',
             length(repeat('the quick brown fox jumps over the lazy dog ',
                           1200))),
            (900015, repeat('a', 5000), 'en', 'src1', 5000),
            -- v9: NULL identity (row dropped at the boundary — a
            -- NULL doc_id in any rank tie-breaker splits on engine
            -- NULLS placement) and NULL source (ATTRIBUTE — kept;
            -- source-grouped rankings must handle the NULL group
            -- identically on both engines)
            (CAST(NULL AS BIGINT), 'identity-less document', 'en',
             'src0', 22),
            (900016, 'document with null source', 'en',
             CAST(NULL AS VARCHAR), 25),
            -- v9: NUL byte inside text — probed bit-identical on both
            -- engines (length/md5/split all agree); pinned so an
            -- engine upgrade cannot silently regress NUL-safety
            (900017, concat('nul', chr(0), 'byte doc text'), 'en',
             'src0', length(concat('nul', chr(0), 'byte doc text')))
          ) t(doc_id, "text", lang, source, n_chars)
        ) TO '{DST}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings: zero vector (norm 0 → cosine 0/0), exact-duplicate pair,
    # a one-hot vector. FLOAT[] element type must match.
    zero = "[" + ", ".join(["0.0"] * 64) + "]"
    onehot = "[" + ", ".join(["1.0"] + ["0.0"] * 63) + "]"
    onehot_63 = "[" + ", ".join(["1.0"] + ["0.0"] * 62) + "]"
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/embeddings.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (900001, CAST({zero} AS FLOAT[]), 0),
            (900002, CAST({onehot} AS FLOAT[]), 1),
            (900003, CAST({onehot} AS FLOAT[]), 1),
            (900004, CAST({onehot} AS FLOAT[]), CAST(NULL AS INTEGER)),
            -- v6: non-finite components — a NaN or Inf coordinate
            -- poisons every cosine and crashes the integer-unit Arrow
            -- mappers (int(round(nan))); excluded at the catalog
            -- boundary on both engines alongside zero vectors.
            (900005, CAST(list_append({onehot_63}, 'nan'::FLOAT)
                          AS FLOAT[]), 1),
            (900006, CAST(list_append({onehot_63}, 'infinity'::FLOAT)
                          AS FLOAT[]), 1),
            -- -Inf exercises the list_min arm of the filter separately
            -- (review catch: a regression confined to the min clause
            -- would otherwise pass the audit)
            (900007, CAST(list_append({onehot_63}, '-infinity'::FLOAT)
                          AS FLOAT[]), 1),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), CAST({onehot} AS FLOAT[]), 1)
          ) t(vec_id, embedding, label)
        ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # events: zero value, negative value, duplicate timestamp pair on one
    # user, empty props. Keep ts inside the fixture's time range so
    # windowed entries see them.
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/events.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (900001, TIMESTAMP '2024-01-02 03:04:05', 13, 'click', 0.0, '{{}}'),
            (900002, TIMESTAMP '2024-01-02 03:04:05', 13, 'click', 0.0, '{{}}'),
            (900003, TIMESTAMP '2024-01-02 03:04:06', 13, 'purchase', -1.5,
             '{{}}'),
            (900004, TIMESTAMP '2024-01-02 03:04:07', 13, 'view',
             CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
            (900005, TIMESTAMP '2024-01-03 00:00:00', 901, 'brand_new_type',
             7.25, '{{"k": 1}}'),
            -- v4: magnitude probe — a value ~1e9 beyond the generator's
            -- range exercises every fixed-point (cents / micro-unit)
            -- conversion for int64 headroom without overflowing it.
            (900006, TIMESTAMP '2024-01-03 00:00:01', 901, 'purchase',
             7250000000.0, '{{}}'),
            -- v4: NaN measurement — passes IS NOT NULL filters, then
            -- crashes the ANSI cents cast (13 crashes + 2 silent
            -- divergences when probed). Nulled at the catalog boundary
            -- on both engines (load_table / registry._nan_null_events).
            (900007, TIMESTAMP '2024-01-03 00:00:02', 901, 'purchase',
             'nan'::DOUBLE, '{{}}'),
            -- v5: malformed / non-integral props JSON — DuckDB's
            -- json_extract ERRORS where Spark's get_json_object returns
            -- NULL, and DuckDB TRY_CAST('1.5'→2) ROUNDS where Spark
            -- NULLs; closed by the json_valid + integral-string guard
            -- (registry._JSON_K_SQL). Props is also a window group key
            -- elsewhere (opaque string — no parse there).
            (900008, TIMESTAMP '2024-01-03 00:00:03', 902, 'click', 1.0,
             '{{bad json'),
            (900009, TIMESTAMP '2024-01-03 00:00:04', 902, 'click', 1.0,
             '{{"k": "notanum"}}'),
            (900010, TIMESTAMP '2024-01-03 00:00:05', 902, 'click', 1.0,
             '{{"k": 1.5}}'),
            -- v6: NULL timestamp — unplaceable in time; a NULL ts in a
            -- rank tie-breaker splits on Spark-vs-DuckDB NULLS
            -- placement. Dropped at the catalog boundary on both
            -- engines (row must NOT appear in any count).
            (900011, CAST(NULL AS TIMESTAMP), 903, 'click', 2.0, '{{}}'),
            -- v7: time-range extremes — epoch 0 and year 9999 probe
            -- every hour/day grid, window frame, and epoch-unit cast
            -- for bounded-timespan assumptions (no entry may
            -- materialize a DENSE min..max grid; day fans are
            -- explode-bounded). Both stay inside int64 epoch-micros.
            (900012, TIMESTAMP '1970-01-01 00:00:00', 904, 'click', 1.0,
             '{{}}'),
            (900013, TIMESTAMP '9999-12-31 23:59:59', 904, 'view', 1.0,
             '{{}}'),
            -- the same far-future probe ON the LOCF subseries (user_id
            -- 970 ≡ 0 mod 97, purchase) — drives the bounded-gapfill
            -- break path of events_hourly_gapfill_locf, which the
            -- 904 rows miss through its filter
            (900014, TIMESTAMP '9999-12-31 23:00:00', 970, 'purchase',
             1.0, '{{}}'),
            -- v9: NULL identities (rows dropped at the boundary — an
            -- actor-less or type-less event is malformed telemetry and
            -- a NULL in either column splits rank tie-breakers /
            -- window partitions on engine NULLS placement)
            (900015, TIMESTAMP '2024-01-04 00:00:00',
             CAST(NULL AS BIGINT), 'click', 1.0, '{{}}'),
            (900016, TIMESTAMP '2024-01-04 00:00:01', 905,
             CAST(NULL AS VARCHAR), 1.0, '{{}}'),
            (CAST(NULL AS BIGINT), TIMESTAMP '2024-01-04 00:00:02', 905,
             'view', 1.0, '{{}}')
          ) t(event_id, ts, user_id, event_type, "value", props)
        ) TO '{DST}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return DST


def main() -> int:
    sys.path.insert(0, "/root/repo")
    only = set(sys.argv[1:])
    sf_dir = build_fixture()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("degenerate_audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from tests.oracle_harness import compare, duckdb_conn

    qs = e.queries()
    oracles = e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd entry name must not yield a zero-compare false green
        print(f"unknown entries: {sorted(unknown)}")
        return 2
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            with duckdb_conn(sf_dir, config=ORACLE_CONFIG) as con:
                problems = compare(fn(spark, sf_dir), con, oracles[name], name)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            problems = [f"{name}: exception {type(ex).__name__}: {ex}"]
        if problems:
            failed.append(name)
            for p in problems:
                print(f"DEGEN-FAIL {p}", flush=True)
        else:
            print(f"DEGEN-OK {name}", flush=True)
    print(f"\n{len(failed)} degenerate failures")
    if failed:
        print("FAILED:", failed)
        return 1
    print("RESULT: ALL DEGENERATE-SAFE")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
