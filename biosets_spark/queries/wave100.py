"""Hundredth-wave query inventory: the r8 depth shapes — RECURSIVE
HIERARCHY TRAVERSAL (BOM explosion: the transitive closure of a
parent-child edge set with per-edge quantity multiplication, the
classic WITH RECURSIVE workload Spark lacks natively, expressed as
the iterative frontier-join pattern that q_dedup_clusters'
connected-components operator established), FUNCTIONAL MERGE
(Delta/Iceberg-style three-clause MERGE INTO — matched-update,
matched-delete, not-matched-insert — as one full outer join plus
per-column CASE expressions via operators.merge.merge_into), and a
TIME-INTERVAL JOIN over the event stream (click -> purchase
conversion pairs within one hour per user: equi-key + range
predicate, the batch twin of a windowed stream-stream interval
join).

Determinism discipline: BOM quantities are exact small integers
(products <= 5^depth stay far inside long range; sums exact);
MERGE price arithmetic avoids rounding entirely (+10 and *2 are
exact double ops) and aggregates through the DECIMAL-cast dsum;
interval gaps are exact epoch-microsecond BIGINTs (unix_micros <->
epoch_us, both engines' timestamps are microsecond-granular).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from .. import pins, tables
from . import dsum, q


@q(
    "q_bom_explosion",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey // 7 AS parent, p_partkey AS child,
             (p_partkey % 5) + 1 AS qty
      FROM part WHERE p_partkey >= 7
    ), bom AS (
      SELECT CAST(p_partkey AS BIGINT) AS root,
             CAST(p_partkey AS BIGINT) AS node,
             0 AS depth, CAST(1 AS BIGINT) AS ext_qty
      FROM part WHERE p_partkey BETWEEN 1 AND 6
      UNION ALL
      SELECT b.root, e.child, b.depth + 1, b.ext_qty * e.qty
      FROM bom b JOIN edges e ON e.parent = b.node
    )
    SELECT root,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_components,
           CAST(MAX(depth) AS INT) AS max_depth,
           CAST(SUM(ext_qty) - 1 AS BIGINT) AS total_extended_qty
    FROM bom GROUP BY root ORDER BY root
    """,
    desc="BOM explosion: full transitive closure of a synthesized "
         "part hierarchy (child c hangs under parent c div 7, edge "
         "quantity (c mod 5) + 1 — a strict parent<child DAG), from "
         "the six depth-0 roots. Per root: component count, max "
         "depth, and the sum of path-multiplied extended quantities "
         "— the classic WITH RECURSIVE workload. Spark has no "
         "recursive CTE, so the plan is the iterative frontier-join: "
         "each level joins the previous frontier to the edge set, "
         "localCheckpoint(eager) truncates the exponentially-growing "
         "lineage per level (the connected-components pattern from "
         "operators/graph.py), and the loop runs O(depth) = "
         "O(log_7 N) jobs — 5 levels at sf0.1, ~9 at 100 TB part "
         "counts. Each level is one shuffle join on the frontier "
         "(AQE broadcasts small frontiers); nothing unbounded ever "
         "reaches the driver (isEmpty on a checkpointed level is a "
         "metadata peek).",
    tags=["recursive", "join", "agg"],
)
def q_bom_explosion(spark, sf_dir):
    part = tables.load(spark, sf_dir, "part")
    edges = part.where(col("p_partkey") >= 7).select(
        F.expr("p_partkey div 7").alias("parent"),
        col("p_partkey").alias("child"),
        (col("p_partkey") % 5 + 1).alias("qty"),
    )
    frontier = part.where(col("p_partkey").between(1, 6)).select(
        col("p_partkey").alias("root"),
        col("p_partkey").alias("node"),
        F.lit(0).alias("depth"),
        F.lit(1).cast("long").alias("ext_qty"),
    )
    levels = [frontier]
    cur = frontier
    for depth in range(1, 33):
        # truncate lineage per level: without this the plan tree
        # doubles every iteration (the graph.py precedent)
        nxt = pins.pin(
            cur.alias("c")
            .join(edges.alias("e"), col("c.node") == col("e.parent"))
            .select(
                col("c.root").alias("root"),
                col("e.child").alias("node"),
                F.lit(depth).alias("depth"),
                (col("c.ext_qty") * col("e.qty")).alias("ext_qty"),
            ),
            checkpoint=True, eager=True)
        if nxt.isEmpty():
            break
        levels.append(nxt)
        cur = nxt
    else:  # parent < child strictly => DAG; 33 levels means data corruption
        raise RuntimeError("BOM traversal did not terminate in 32 levels")
    bom = levels[0]
    for lv in levels[1:]:
        bom = bom.union(lv)
    return (
        bom.groupBy("root")
        .agg(
            (F.count("*") - 1).alias("n_components"),
            F.max("depth").cast("int").alias("max_depth"),
            (F.sum("ext_qty") - 1).alias("total_extended_qty"),
        )
        .orderBy("root")
    )


@q(
    "q_merge_upsert",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 1 THEN 'D' ELSE 'U' END AS op,
             o_totalprice + 10.0 AS new_price
      FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 7 = 1
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders),
             'I', o_totalprice * 2
      FROM orders WHERE o_orderkey % 11 = 2
    ), merged AS (
      SELECT
        CASE WHEN t.o_orderkey IS NULL THEN 'N'
             ELSE t.o_orderstatus END AS o_orderstatus,
        CASE WHEN t.o_orderkey IS NULL THEN s.new_price
             WHEN s.o_orderkey IS NOT NULL AND s.op = 'U' THEN s.new_price
             ELSE t.o_totalprice END AS o_totalprice
      FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) t
      FULL JOIN src s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                 AND s.op = 'D')
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    desc="Functional MERGE INTO (Delta/Iceberg three-clause "
         "semantics): a deterministic CDC batch against orders — "
         "keys = 0 (mod 3) update price (+10), keys = 1 (mod 7) "
         "delete, keys = 2 (mod 11) insert as new '+max(key)' orders "
         "(offset past the actual max key so insert keys can never "
         "collide with update/delete keys at ANY sf) with doubled "
         "price and status 'N' — applied through "
         "operators.merge.merge_into (ONE full outer join on the "
         "merge key + per-column CASE, all JVM expressions; the "
         "duplicate-source-key guard is the same validation SQL "
         "MERGE mandates). Post-merge state is summarized per "
         "status. One key-shuffle — the cost class any table "
         "format's UPSERT pays; AQE broadcasts small CDC batches.",
    tags=["merge", "join", "agg", "cross"],
)
def q_merge_upsert(spark, sf_dir):
    from ..operators.merge import merge_into

    orders = tables.load(spark, sf_dir, "orders")
    target = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = orders.where(
        (col("o_orderkey") % 3 == 0) | (col("o_orderkey") % 7 == 1)
    ).select(
        "o_orderkey",
        F.when(col("o_orderkey") % 7 == 1, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        (col("o_totalprice") + 10.0).alias("new_price"),
    )
    # offset insert keys past the actual max key: a scalar max agg
    # broadcast-cross-joined in (one tiny row), so synthesized insert
    # keys can never collide with update/delete source keys at any sf
    mx = orders.agg(F.max("o_orderkey").alias("__max_key"))
    inserts = (
        orders.where(col("o_orderkey") % 11 == 2)
        .crossJoin(broadcast(mx))
        .select(
            (col("o_orderkey") + col("__max_key")).alias("o_orderkey"),
            F.lit("I").alias("op"),
            (col("o_totalprice") * 2).alias("new_price"),
        )
    )
    source = updates.unionByName(inserts)
    merged = merge_into(
        target,
        source,
        on="o_orderkey",
        matched_update={"o_totalprice": col("__s.new_price")},
        matched_delete=col("__s.op") == "D",
        matched_condition=col("__s.op") == "U",
        not_matched_insert={
            "o_orderstatus": F.lit("N"),
            "o_totalprice": col("__s.new_price"),
        },
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("o_orderstatus")
    )


@q(
    "q_event_interval_join",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id AS p_user, ts AS pts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT click_id) AS BIGINT) AS converting_clicks,
           CAST(SUM(epoch_us(pts) - epoch_us(cts)) AS BIGINT)
               AS sum_gap_micros
    FROM c JOIN p ON p_user = user_id
                 AND pts > cts AND pts <= cts + INTERVAL 1 HOUR
    GROUP BY user_id ORDER BY user_id
    """,
    desc="Time-interval join over the event stream: every "
         "(click, purchase) pair by the same user where the purchase "
         "lands in (click_ts, click_ts + 1 hour] — per user, the pair "
         "count, the number of distinct converting clicks, and the "
         "exact total gap in microseconds. The batch twin of a "
         "windowed stream-stream interval join (the streaming form "
         "bounds state with watermarks on both sides; see "
         "streaming/ingest.py). The plan is an equi-key join on "
         "user_id with the range predicate as a join filter — the "
         "shuffle carries only (user_id, ts, event_id), pairs "
         "explode only within a user's hour window, and per-user "
         "event counts bound the worst case; at 100 TB the same "
         "shape bucket-joins on user_id.",
    tags=["events", "join", "interval"],
)
def q_event_interval_join(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.where(col("event_type") == "click").select(
        "user_id",
        col("event_id").alias("click_id"),
        col("ts").alias("cts"),
    )
    purchases = ev.where(col("event_type") == "purchase").select(
        col("user_id").alias("p_user"),
        col("ts").alias("pts"),
    )
    pairs = clicks.join(
        purchases,
        (col("p_user") == col("user_id"))
        & (col("pts") > col("cts"))
        & (col("pts") <= col("cts") + F.expr("INTERVAL 1 HOUR")),
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("click_id").alias("converting_clicks"),
            F.sum(F.unix_micros(col("pts")) - F.unix_micros(col("cts")))
            .alias("sum_gap_micros"),
        )
        .orderBy("user_id")
    )


@q(
    "q_multimodal_jpeg_dims",
    oracle="""
    SELECT doc_id,
           CAST(47 + doc_id % 23 AS BIGINT) AS n_bytes,
           CAST(doc_id % 640 + 16 AS INT) AS width,
           CAST(doc_id % 480 + 16 AS INT) AS height,
           CAST(3 AS INT) AS n_components
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
    desc="JPEG header-only dimension extraction (r9, verdict gap #1): "
         "per doc a structurally-valid JPEG byte stream is synthesized "
         "(SOI/APP0/COM/SOFn/SOS markers; baseline C0 or progressive "
         "C2 by doc parity; COM padding varies segment offsets) and "
         "parsed back through operators.multimodal.decode_jpeg_dims — "
         "the SOF marker scan that covers the dominant real-world "
         "image-metadata case with NO codec dependency. The oracle "
         "recomputes the synthesized dimensions arithmetically, so a "
         "parser that mis-walks markers or mis-reads the big-endian "
         "frame header diverges. Plumbing is the real 100 TB shape: "
         "binary payloads flow through ONE Arrow-batched mapInPandas "
         "(construct + parse per batch, bytes never leave the task), "
         "output is (id, dims) only — payload bytes are never "
         "shuffled or collected.",
    tags=["multimodal", "binary"],
)
def q_multimodal_jpeg_dims(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents") \
        .filter(col("doc_id") < 200).select("doc_id")

    def batches(it):
        import struct

        import pandas as pd

        from ..operators.multimodal import decode_jpeg_dims

        def make(doc_id):
            w = doc_id % 640 + 16
            h = doc_id % 480 + 16
            pad = doc_id % 23
            sof = 0xC2 if doc_id % 2 else 0xC0
            b = b"\xff\xd8"
            b += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
                  + b"\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            b += b"\xff\xfe" + struct.pack(">H", 2 + pad) + b"x" * pad
            b += bytes([0xFF, sof]) + struct.pack(">HBHHB", 11, 8, h, w, 3)
            b += b"\x01\x11\x00"
            b += b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
            return b + b"\x12\x34" + b"\xff\xd9"

        for pdf in it:
            payloads = [make(int(d)) for d in pdf["doc_id"]]
            dims = [decode_jpeg_dims(p) for p in payloads]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) for p in payloads],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "n_components": [d[2] for d in dims],
            })

    return docs.mapInPandas(
        batches,
        schema="doc_id long, n_bytes long, width int, height int, "
               "n_components int",
    ).orderBy("doc_id")


@q(
    "q_multimodal_av_info",
    oracle="""
    SELECT doc_id,
           CAST(22050 + doc_id % 5 * 4410 AS INT) AS flac_rate,
           CAST(1 + doc_id % 2 AS INT) AS flac_channels,
           CAST(1000 * (doc_id + 1) AS BIGINT) AS flac_samples,
           'isom' AS brand,
           CAST((10 + doc_id % 50) * 1000 AS BIGINT) AS video_ms,
           CAST(320 + doc_id % 8 * 160 AS INT) AS width,
           CAST(240 + doc_id % 6 * 120 AS INT) AS height
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
    desc="Audio/video header-only metadata (r9): per doc a conformant "
         "FLAC container (STREAMINFO first, per spec) and an ISO-BMFF "
         "MP4 (ftyp + moov/mvhd/trak/tkhd, mvhd version 0 or 1 by doc "
         "parity, an audio-only trak before the visual one) are "
         "synthesized and parsed back through decode_flac_info / "
         "decode_mp4_info — covering the dominant audio and video "
         "container metadata cases with NO codec dependency. The "
         "oracle recomputes every synthesized field arithmetically, "
         "so a parser that mis-walks boxes, mis-shifts the packed "
         "STREAMINFO fields, or reads the wrong mvhd version layout "
         "diverges. Same 100 TB plumbing contract as "
         "q_multimodal_jpeg_dims: one Arrow-batched mapInPandas, "
         "payload bytes never shuffled or collected.",
    tags=["multimodal", "binary"],
)
def q_multimodal_av_info(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents") \
        .filter(col("doc_id") < 200).select("doc_id")

    def batches(it):
        import struct

        import pandas as pd

        from ..operators.multimodal import decode_flac_info, decode_mp4_info

        def make_flac(d):
            rate = 22050 + d % 5 * 4410
            ch = 1 + d % 2
            n_samples = 1000 * (d + 1)
            packed = ((rate << 44) | ((ch - 1) << 41) | (15 << 36)
                      | n_samples)
            si = (b"\x10\x00\x10\x00" + b"\x00\x00\x00" * 2
                  + packed.to_bytes(8, "big") + b"\x00" * 16)
            return (b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big")
                    + si + b"\xff\xf8")

        def box(typ, payload):
            return (8 + len(payload)).to_bytes(4, "big") + typ + payload

        def make_mp4(d):
            w, h = 320 + d % 8 * 160, 240 + d % 6 * 120
            dur_s, scale = 10 + d % 50, 90000
            if d % 2:
                mvhd = (b"\x01\x00\x00\x00" + b"\x00" * 16
                        + struct.pack(">IQ", scale, dur_s * scale)
                        + b"\x00" * 80)
            else:
                mvhd = (b"\x00" * 4 + b"\x00" * 8
                        + struct.pack(">II", scale, dur_s * scale)
                        + b"\x00" * 80)
            tkhd_a = b"\x00" * 4 + b"\x00" * 20 + b"\x00" * 52 + b"\x00" * 8
            tkhd_v = (b"\x00" * 4 + b"\x00" * 20 + b"\x00" * 52
                      + struct.pack(">II", w << 16, h << 16))
            moov = box(b"moov", box(b"mvhd", mvhd)
                       + box(b"trak", box(b"tkhd", tkhd_a))
                       + box(b"trak", box(b"tkhd", tkhd_v)))
            return (box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
                    + moov + box(b"mdat", b"\x00" * 16))

        for pdf in it:
            ids = [int(d) for d in pdf["doc_id"]]
            flac = [decode_flac_info(make_flac(d)) for d in ids]
            mp4 = [decode_mp4_info(make_mp4(d)) for d in ids]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "flac_rate": [f[0] for f in flac],
                "flac_channels": [f[1] for f in flac],
                "flac_samples": [f[3] for f in flac],
                "brand": [m[0] for m in mp4],
                "video_ms": [m[1] for m in mp4],
                "width": [m[2] for m in mp4],
                "height": [m[3] for m in mp4],
            })

    return docs.mapInPandas(
        batches,
        schema="doc_id long, flac_rate int, flac_channels int, "
               "flac_samples long, brand string, video_ms long, "
               "width int, height int",
    ).orderBy("doc_id")


@q(
    "q_table_skipping",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderkey >= 100 AND o_orderkey < 2000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    desc="File-level data skipping on the versioned table (r9): orders "
         "is committed as a snapshot table clustered on o_orderkey "
         "(repartitionByRange + sortWithinPartitions -> 8 files with "
         "disjoint key ranges; sources/sink.py writes the per-file "
         "min/max index from the parquet FOOTERS at commit, no data "
         "scan), then read back through read_snapshot_where, which "
         "consults the index and schedules tasks only for files whose "
         "bounds intersect [100, 2000) — Delta-style skipping, the "
         "layer that matters at 100k-file scale where per-file footer "
         "opens dominate planning. The oracle computes the same "
         "filtered aggregate straight from orders, so a prune that "
         "drops a file it should have kept (or keeps rows it should "
         "have filtered) diverges. Soundness contract: pruning changes "
         "file counts, never results.",
    tags=["table", "skipping", "agg"],
)
def q_table_skipping(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..sources import sink as S

    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = os.path.join(
        tempfile.gettempdir(),
        f"biosets_q_table_skipping_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    clustered = orders.repartitionByRange(8, "o_orderkey") \
        .sortWithinPartitions("o_orderkey")
    S.create_table(spark, path, clustered)
    pruned = S.read_snapshot_where(
        spark, path,
        [("o_orderkey", ">=", 100), ("o_orderkey", "<", 2000)])
    return (
        pruned.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"),
             dsum("o_totalprice", "total_price"))
        .orderBy("o_orderstatus")
    )
