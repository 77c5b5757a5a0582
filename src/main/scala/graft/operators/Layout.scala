package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Physical-layout operators for multi-dimensional scan pruning —
  * the lakehouse Z-ORDER: interleave the bits of two dimension keys
  * so rows close in BOTH dimensions land close on the space-filling
  * curve, then range-partition + sort files by the curve value. A
  * predicate on EITHER dimension then touches a bounded band of
  * files instead of all of them (single-column sorting only prunes
  * its own column; at 100 TB the difference is reading one file vs a
  * full shard for a two-column point query).
  *
  * The curve math is pure integer bit arithmetic — identical in both
  * engines, so the layout decision itself sits under the exact
  * oracle; the file-level pruning effect is spec-asserted on real
  * written files (LayoutSpec).
  */
object Layout {

  /** Morton/Z value of two non-negative integral columns, `bits` bits
    * each (z < 2^(2·bits)): bit b of x lands at position 2b, bit b of
    * y at 2b+1. */
  def zCol(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { b =>
      (shiftright(x, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))) +
        (shiftright(y, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)))
    }.reduce(_ + _)

  /** DuckDB replay of `zCol` (BIGINT expressions). */
  def zSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { b =>
      s"((($x >> $b) & 1) * ${1L << (2 * b)} + (($y >> $b) & 1) * ${1L << (2 * b + 1)})"
    }.mkString("(", " + ", ")")

  /** Z-ordered writer: range-partition on the curve value (so file k
    * holds one contiguous curve band) and sort within partitions (so
    * row groups inside a file are banded too — parquet min/max stats
    * prune at both granularities). */
  def zorderWrite(df: DataFrame, x: Column, y: Column, bits: Int,
                  path: String, nFiles: Int): Unit =
    df.withColumn("_z", zCol(x, y, bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** POINT-FETCH layout (round-13 task 5): the raw store a rescore /
    * get-by-ids reads must support fetching ~200 scattered rows WITHOUT
    * a full-table decode. Sorting by id gives parquet min/max stats the
    * order they need; the non-obvious knob is
    * `parquet.page.row.count.limit`: the column-index prunes at the
    * granularity of the PREDICATE column's pages, and an 8-byte id
    * column packs ~2,000 rows into a default 1 MB page — so with fat
    * payload rows (a 6 KB embedding) every id-page hit drags in ~12 MB
    * of payload. Capping pages at 8 rows makes the index resolve to
    * 8-row ranges: measured on a 500k × 768-d store, a 200-id fetch
    * reads 15.4 MB instead of 2,955 MB (192×), ~1.2 MB of which is the
    * fixed footer+offset-index cost. Row-group size is left at the
    * default — parquet's writer enforces a ≥100-row minimum per size
    * check, so small block sizes bottom out at ~100-row groups (19.5×),
    * while page pruning goes finer.
    *
    * FIRST PAGE: the page row limit is only enforced at a page-size
    * check, and parquet's first check comes at row
    * `parquet.page.size.row.check.min` (default 100) — so by default
    * every file's first 100 rows share one page, and a file of < 100
    * rows is ONE page the index cannot prune inside. The writer sets
    * that minimum to 8 as well, so every page, the first included,
    * holds ≤ 8 rows (ByidStoreSpec reads the offset index to pin it).
    *
    * ONE FILE (`nFiles == 1`): coalesce(1) + sortWithinPartitions —
    * no range sampling job and no shuffle; the whole input is sorted
    * in one task, so this is the branch for churn-scale inputs
    * (ByidStore sizes its layouts so small stores land here). More
    * files range-partition on the id: one sampling pass, one shuffle,
    * disjoint per-file id ranges. */
  def pointFetchWrite(df: DataFrame, idCol: String, path: String,
                      nFiles: Int = 32): Unit = {
    val laid =
      if (nFiles == 1) df.coalesce(1)
      else df.repartitionByRange(nFiles, col(idCol))
    laid.sortWithinPartitions(idCol)
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", 8)
      .option("parquet.page.size.row.check.min", 8)
      .parquet(path)
  }

  /** Point-fetch predicate: a BALANCED or-of-equality tree instead of
    * `isin`. Spark translates `isin` above
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10) to
    * parquet's native In predicate, which row-group- and page-prunes
    * NOTHING in Spark 4.1 (measured: a 200-id native-In fetch reads the
    * full table even at 1 MB row groups; the same ids as or-of-eq read
    * only the matching groups/pages). The or-of-eq form pushes down
    * with no session-conf dependency; balanced so expression depth is
    * log₂(n). Intended for bounded candidate lists (rescore top-k,
    * get-by-ids) — a corpus-sized id list belongs in a join, not a
    * predicate. */
  def idsPredicate(c: Column, ids: Seq[Long]): Column = {
    require(ids.nonEmpty, "idsPredicate needs at least one id")
    val vs = ids.distinct.sorted
    def go(lo: Int, hi: Int): Column =
      if (hi - lo == 1) c === vs(lo)
      else { val mid = (lo + hi) / 2; go(lo, mid) || go(mid, hi) }
    go(0, vs.length)
  }

  /** [[idsPredicate]] for string keys — same balanced or-of-eq, same
    * native-In rationale. The serving use is the hybrid tier's
    * postings fetch: a batch's distinct term set over a term-sorted
    * postings asset reads only the matching pages, the inverted-index
    * promise parquet's native In silently breaks. */
  def stringsPredicate(c: Column, keys: Seq[String]): Column = {
    require(keys.nonEmpty, "stringsPredicate needs at least one key")
    val vs = keys.distinct.sorted
    def go(lo: Int, hi: Int): Column =
      if (hi - lo == 1) c === vs(lo)
      else { val mid = (lo + hi) / 2; go(lo, mid) || go(mid, hi) }
    go(0, vs.length)
  }

  /** Fixture root for `pf_point_fetch` (the round-5 concurrent-run
    * rule: keyed on data dir + pid). */
  private def pfDir(dataDir: String): String =
    "/tmp/graft_pf_" + dataDir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      ProcessHandle.current().pid()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Z-order locality digest: events keyed by (user_id mod 1024,
    // event_id mod 1024) — both dims on the SAME 10-bit scale, which
    // is z-order's one precondition (unequal bit widths leave the
    // narrow dim's bits all in the curve's low positions, so bands
    // stop bounding it; LayoutSpec demonstrates the fix is dimension
    // normalization). The curve value is cut into 16 equal-width
    // bands (a pure map — no global sort in the digest) and each band
    // reports its bounding box in BOTH dimensions: every band's box
    // is a small fraction of the global domain in x AND y
    // simultaneously — the property single-column clustering cannot
    // deliver and the reason a two-column predicate over a z-laid-out
    // table prunes to a few bands. Hash-exact: interleaving is
    // integer math.
    "zo_locality" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // dimension normalization: scale each key onto the shared
      // 10-bit curve domain (ONE bounded driver action for the maxes
      // — the qvecs precedent; integer div thereafter, engine-exact)
      val r = ev.agg(max(col("user_id")).cast("long"),
        max(col("event_id")).cast("long")).head()
      val (maxU, maxE) = (r.getLong(0) + 1, r.getLong(1) + 1)
      val x = expr(s"CAST(user_id AS BIGINT) * 1024 div $maxU")
      val y = expr(s"CAST(event_id AS BIGINT) * 1024 div $maxE")
      ev.withColumn("z", zCol(x, y, 10))
        .withColumn("band", expr("z div 65536"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          min(x).as("min_x"), max(x).as("max_x"),
          min(y).as("min_y"), max(y).as("max_y"))
        .orderBy("band")
    }),
    // Point-fetch through the REAL layout: write the embeddings table
    // with pointFetchWrite, fetch 20 arithmetically-scattered ids with
    // idsPredicate, and emit (vec_id, dim, first/last components) —
    // the physical path (sorted files, 8-row id pages, or-of-eq
    // pushdown) is exercised end-to-end while the SEMANTICS stay an
    // exact IN-list the oracle replays. The id list derives from
    // max(vec_id) (one bounded driver action, the zo_locality
    // precedent) so the gate works at every SF.
    "pf_point_fetch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      val ids = (0 until 20).map(i => (i * 3461L + 7) % n)
      val path = pfDir(d)
      pointFetchWrite(emb, "vec_id", path, nFiles = 8)
      s.read.parquet(path)
        .filter(idsPredicate(col("vec_id"), ids))
        .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("c_first"),
          element_at(col("embedding"), -1).cast("double").as("c_last"))
        .orderBy("vec_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "zo_locality" -> {
      val z = zSql("xn", "yn", 10)
      s"""WITH m AS (
         |  SELECT CAST(max(user_id) AS BIGINT) + 1 AS mu,
         |         CAST(max(event_id) AS BIGINT) + 1 AS me FROM events),
         |norm AS (
         |  SELECT CAST(user_id AS BIGINT) * 1024 // m.mu AS xn,
         |         CAST(event_id AS BIGINT) * 1024 // m.me AS yn
         |  FROM events, m)
         |SELECT $z // 65536 AS band, count(*) AS n,
         |  min(xn) AS min_x, max(xn) AS max_x,
         |  min(yn) AS min_y, max(yn) AS max_y
         |FROM norm GROUP BY band ORDER BY band""".stripMargin
    },
    "pf_point_fetch" ->
      """WITH m AS (SELECT max(vec_id) + 1 AS n FROM embeddings),
        |ids AS (SELECT DISTINCT (t.i * 3461 + 7) % m.n AS vec_id
        |        FROM range(20) t(i), m)
        |SELECT e.vec_id, len(e.embedding) AS dim,
        |  CAST(e.embedding[1] AS DOUBLE) AS c_first,
        |  CAST(e.embedding[len(e.embedding)] AS DOUBLE) AS c_last
        |FROM embeddings e JOIN ids USING (vec_id)
        |ORDER BY vec_id""".stripMargin
  )
}
