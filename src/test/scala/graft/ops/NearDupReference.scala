package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The public near-duplicate pair lists as they were composed before they
  * shared one collapse, member map, expansion and verify: per-fingerprint
  * aggregates that count each group, the cross expansion of the verified
  * representative pairs, the within-group self-join over the groups of two
  * or more, and the Hamming verify's two renamed signature joins. Kept as
  * the reference the operators are compared with row for row. No bucket
  * guard: the cases that use it set no `maxBucket`.
  */
object NearDupReference {
  private def bucketJoin(banded: DataFrame): DataFrame =
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

  private def expandCross(repPairs: DataFrame, byRep: DataFrame, carry: Seq[String]): DataFrame =
    repPairs
      .join(byRep.select(col("rep").as("id_a"), col("id").as("ma")), "id_a")
      .join(byRep.select(col("rep").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a") +:
        greatest(col("ma"), col("mb")).as("id_b") +: carry.map(col): _*)

  private def withinGroupPairs(byRep: DataFrame, carry: Seq[String] = Nil): DataFrame =
    byRep.as("x").join(byRep.as("y"),
        col("x.rep") === col("y.rep") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a") +: col("y.id").as("id_b") +:
        col("x.rep").as("rep") +: carry.map(c => col(s"x.$c").as(c)): _*)

  private def bandedHammingPairs(s: DataFrame, nBands: Int, maxHamming: Int): DataFrame = {
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = s.select(col("id"), posexplode(array(
      (0 until nBands).map(b =>
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))): _*))
      .as(Seq("band", "bucket")))
    bucketJoin(banded)
      .join(s.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** The member map with each member's group size: (id, rep, gsz, carry…). */
  private def byRep(df: DataFrame, idCol: String, textCol: String, groups: DataFrame,
                    carry: Seq[String]): DataFrame =
    df.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .join(groups.select(Seq("fp", "rep", "gsz").map(col) ++ carry.map(col): _*), "fp")
      .select(Seq("id", "rep", "gsz").map(col) ++ carry.map(col): _*)

  def minhashNearDups(df: DataFrame, idCol: String, textCol: String, threshold: Double,
                      k: Int, numHashes: Int, bands: Int): DataFrame = {
    val groups = df.filter(size(TextOps.tokens(lower(col(textCol)))) >= k)
      .withColumn("__sh", array_distinct(TextOps.shingles(col(textCol), k)))
      .select(coalesce(TextOps.fingerprint(col(textCol)), lit("")).as("fp"),
        col(idCol).as("id"),
        DedupOps.minhashBands(col("__sh"), numHashes, bands).as("bh"),
        size(col("__sh")).as("nsh"))
      .groupBy("fp", "bh", "nsh")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("gsz"))
    val candidates = bucketJoin(groups.select(col("rep").as("id"),
      posexplode_outer(col("bh")).as(Seq("band", "bucket"))))
    val candIds = candidates.select(explode(array(col("id_a"), col("id_b"))).as("__cid"))
    val sets = df.join(broadcast(candIds), col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("id"), array_distinct(TextOps.shingles(col(textCol), k)).as("sh"))
    val repPairs = candidates
      .join(sets.as("a"), col("id_a") === col("a.id"))
      .join(sets.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("a.sh"), col("b.sh"))).as("inter"),
        size(array_union(col("a.sh"), col("b.sh"))).as("union"))
      .withColumn("jaccard",
        when(col("union") === 0, lit(0.0)).otherwise(col("inter").cast("double") / col("union")))
      .filter(col("jaccard") >= threshold)
    val members = byRep(df, idCol, textCol, groups, Seq("nsh"))
    val within = withinGroupPairs(members.filter(col("gsz") > 1), carry = Seq("nsh"))
      .select(col("id_a"), col("id_b"), col("nsh").as("inter"), col("nsh").as("union"),
        lit(1.0).as("jaccard"))
    expandCross(repPairs, members, Seq("inter", "union", "jaccard")).unionByName(within)
  }

  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int): DataFrame = {
    val groups = df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol).as("id"),
        DedupOps.simhash64(col(textCol)).as("sim"))
      .groupBy("fp")
      .agg(min(col("id")).as("rep"), min_by(col("sim"), col("id")).as("sim"),
        count(lit(1)).as("gsz"))
    val members = byRep(df, idCol, textCol, groups, Nil)
    val repPairs = bandedHammingPairs(groups.select(col("rep").as("id"), col("sim").as("sig")),
      nBands = 4, maxHamming)
    val within = withinGroupPairs(members.filter(col("gsz") > 1))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    expandCross(repPairs, members, Seq("hamming")).unionByName(within)
  }

  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
                      maxHamming: Int, nBands: Int): DataFrame =
    bandedHammingPairs(
      sigs.select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig")),
      nBands, maxHamming)
}
