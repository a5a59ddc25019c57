package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The succession-paths derivation and the trust lookup built from it, on
  * the five kinds of change event the workbook benchmark generates, with
  * every expected row derived by hand from build_all_org_changes.R and
  * build_trust_lookup.R:66-109 (the events share no code, so each is
  * derived on its own):
  *
  *  - merger P1, P2 → T: two merger paths; lookup (P1, T), (P2, T);
  *  - chain A2 → B2 → C2: one path (B2's is contained in A2's), both hops
  *    renamings (one distinct predecessor each); the closure re-keys both
  *    A2 and B2 to C2;
  *  - clean split S3 → {X3, Y3}: two split paths, not complicated; the U6
  *    swap turns them into backwards mergers (X3, S3), (Y3, S3);
  *  - split A4 → {B4, C4} with a merger M4 → B4: B4 is reached from two
  *    codes, so its paths are part of a complicated path and problematic,
  *    while (C4, A4) stays a clean backwards merger;
  *  - split of a split A5 → {B5, D5}, B5 → {D5, E5}: the closure runs from
  *    A5 and from B5, so D5 and E5 are each listed twice, towards A5 and
  *    towards B5.
  */
class OrgChangeDerivationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val d1 = java.sql.Date.valueOf("2005-01-01")
  private val d2 = java.sql.Date.valueOf("2010-01-01")

  private def successors = Seq(
    ("P1", "T", d1), ("P2", "T", d1),
    ("A2", "B2", d1), ("B2", "C2", d2),
    ("S3", "X3", d1), ("S3", "Y3", d1),
    ("A4", "B4", d1), ("A4", "C4", d1), ("M4", "B4", d1),
    ("A5", "B5", d1), ("A5", "D5", d1), ("B5", "D5", d2), ("B5", "E5", d2),
  ).toDF("old_code", "new_code", "change_date")

  /** Rows as value sequences, sorted: a multiset comparison. */
  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(df.col): _*).collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private val pathCols = Seq("old_code", "new_code_0",
    "new_code_1", "date_change_1", "change_type_1",
    "new_code_2", "date_change_2", "change_type_2",
    "new_code_3", "date_change_3", "change_type_3",
    "final_code", "experiences_split", "direct_path_complicated",
    "adjacent_to_complicated", "part_of_complicated_path")

  test("derivePaths: one path per uncontained chain, typed and classified") {
    val mg = "merger"
    val nc = "name_change"
    val sp = "split"
    def path(codes: Seq[String], dates: Seq[java.sql.Date], types: Seq[String],
             split: Int, adj: Int, pcp: Int): Seq[Any] = {
      val hops = (0 until 3).flatMap(i =>
        if (i + 1 < codes.length) Seq(codes(i + 1), dates(i), types(i)) else Seq(null, null, null))
      Seq(codes.head, codes.head) ++ hops ++ Seq(codes.last, split, "no", adj, pcp)
    }
    val want = Seq(
      path(Seq("P1", "T"), Seq(d1), Seq(mg), 0, 0, 0),
      path(Seq("P2", "T"), Seq(d1), Seq(mg), 0, 0, 0),
      path(Seq("A2", "B2", "C2"), Seq(d1, d2), Seq(nc, nc), 0, 0, 0),
      path(Seq("S3", "X3"), Seq(d1), Seq(sp), 1, 0, 0),
      path(Seq("S3", "Y3"), Seq(d1), Seq(sp), 1, 0, 0),
      path(Seq("A4", "B4"), Seq(d1), Seq(sp), 1, 0, 1),
      path(Seq("A4", "C4"), Seq(d1), Seq(sp), 1, 0, 0),
      path(Seq("M4", "B4"), Seq(d1), Seq(mg), 0, 1, 1),
      path(Seq("A5", "B5", "D5"), Seq(d1, d2), Seq(sp, sp), 1, 0, 0),
      path(Seq("A5", "B5", "E5"), Seq(d1, d2), Seq(sp, sp), 1, 0, 0),
      path(Seq("A5", "D5"), Seq(d1), Seq(sp), 1, 0, 0),
    ).sortBy(_.mkString("|"))
    assert(rows(OrgChangePaths.derivePaths(successors), pathCols: _*) == want)
  }

  test("trustLookup: merger, chain, clean split, split with merger, split of a split") {
    val lookup = OrgChanges.trustLookup(OrgChangePaths.derivePaths(successors))
    assert(lookup.columns.toSeq == Seq("old_code", "final_code", "experiences_split", "problematic"))
    val want = Seq(
      Seq("P1", "T", 0, 0), Seq("P2", "T", 0, 0),
      Seq("A2", "C2", 0, 0), Seq("B2", "C2", 0, 0),
      Seq("X3", "S3", 1, 0), Seq("Y3", "S3", 1, 0),
      Seq("A4", "B4", null, 1), Seq("M4", "B4", null, 1), Seq("C4", "A4", 1, 0),
      // reference behaviour (build_trust_lookup.R:66-109): the closure
      // runs from A5 and from B5, so D5 and E5 are listed twice
      Seq("D5", "A5", 1, 0), Seq("E5", "A5", 1, 0), Seq("D5", "B5", 1, 0), Seq("E5", "B5", 1, 0),
    ).sortBy(_.mkString("|"))
    assert(rows(lookup, lookup.columns.toSeq: _*) == want)
  }

  test("an edge with no successor keeps its date but gets no change type") {
    val succ = Seq(("W", "Z", d1), ("Z", null, d2)).toDF("old_code", "new_code", "change_date")
    val paths = OrgChangePaths.derivePaths(succ)
    assert(rows(paths, pathCols: _*) == Seq(Seq("W", "W", "Z", d1, "name_change",
      null, d2, null, null, null, null, "Z", 0, "no", 0, 0)))
    val lookup = OrgChanges.trustLookup(paths)
    assert(lookup.collect().toSeq == Seq(Row("W", "Z", 0, 0)))
  }
}
