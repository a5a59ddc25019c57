package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** P8/F8 — header promotion over an ordered staging frame: locate the real
  * header row *inside* the data (raw spreadsheet exports carry junk preamble),
  * slice everything before it, and promote the header row's values to column
  * names (reference: scripts/build_datasets_main.py:94-119 `filter_rows`,
  * :256-266 row→names; janitor::row_to_names at
  * scripts/wait-times/build_datasets_wait_times.R:126-133).
  *
  * Spark frames are unordered, so the file order the reference relies on is
  * made explicit with `zipWithIndex` (SURVEY §7 hard part 1) — a stable,
  * partition-order-preserving index with one lightweight extra job to count
  * per-partition offsets, no shuffle and no single-partition collapse.
  */
object HeaderPromotion {

  /** Attach a stable row index reflecting current (file) order. */
  def withRowIndex(df: DataFrame, indexCol: String = "_row_idx"): DataFrame = {
    val schema = df.schema.add(indexCol, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Promote the first row whose `matchCol` matches `pattern` to the header:
    * rows before it are dropped, its (cleaned) values become column names,
    * and `_row_idx` is kept so downstream order-sensitive ops have a key.
    */
  def promote(df: DataFrame, matchCol: String, pattern: String): DataFrame = {
    val indexed = withRowIndex(df).localCheckpoint(true)
    // backtick-quoted: staged names may carry readxl-style `...N` dots
    val hdr = indexed.filter(col(s"`$matchCol`").rlike(pattern))
      .orderBy(col("_row_idx")).head(1)
    require(hdr.nonEmpty, s"HeaderPromotion: no row in '$matchCol' matches /$pattern/")
    val headerRow = hdr.head
    val headerIdx = headerRow.getAs[Long]("_row_idx")
    val names = df.columns.indices.map { i =>
      Option(headerRow.get(i)).map(v => Relational.cleanName(v.toString))
        .filter(_.nonEmpty).getOrElse(s"x$i")
    }
    // disambiguate duplicates the same way cleanNames does
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val unique = names.map { c =>
      val n = seen.getOrElse(c, 0) + 1; seen(c) = n
      if (n == 1) c else s"${c}_$n"
    }
    val body = indexed.filter(col("_row_idx") > headerIdx)
    body.toDF(unique :+ "_row_idx": _*)
  }

  /** Per-file variant: each source file may bury its header at a different
    * offset. `fileCol` identifies the file (e.g. `input_file_name()`); the
    * canonical column names are taken from the supplied target schema, so no
    * driver-side collect of per-file headers is needed — one window over
    * files, no global ordering requirement.
    */
  def promotePerFile(df: DataFrame, fileCol: String, matchCol: String,
                     pattern: String, targetNames: Seq[String]): DataFrame = {
    require(targetNames.length == df.columns.count(_ != fileCol),
      "targetNames must cover every data column")
    val indexed = withRowIndex(df)
    val w = Window.partitionBy(col(fileCol))
    val headerIdx = min(when(col(s"`$matchCol`").rlike(pattern), col("_row_idx"))).over(w)
    val body = indexed
      .withColumn("_hdr_idx", headerIdx)
      .filter(col("_hdr_idx").isNotNull && col("_row_idx") > col("_hdr_idx"))
      .drop("_hdr_idx")
    val dataCols = df.columns.filter(_ != fileCol)
    val renames = dataCols.zip(targetNames).toMap
    Relational.renameTolerant(body, renames)
  }
}
