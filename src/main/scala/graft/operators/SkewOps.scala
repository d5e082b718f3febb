package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (parity with the reference's only skew control — the
  * chief-worker-minimum-data guard, `AM/ApplicationMaster.java:987-1008` —
  * generalized to keyed skew).
  *
  * First line of defense is AQE's skew-join splitting (on in GraftSession).
  * `saltedJoin` is the explicit fallback for pathological keys AQE can't
  * split (e.g. one key = 30% of a 100 TB fact table): the big side gets a
  * deterministic payload-derived salt in [0, n), the small side is
  * replicated n ways, and the join key becomes (key, salt) — fanning one
  * hot partition out to n. */
object SkewOps {

  /** Inner equi-join of `big` ⋈ `small` on `key`, salted `n` ways.
    * Produces exactly the rows of the unsalted join.
    *
    * The default salt is `pmod(xxhash64(<every big column>), n)` — a pure
    * function of the row payload, so a task retry recomputing a
    * shuffle-derived `big` reassigns identical salts and the join output is
    * stable under recomputation (a positional salt like
    * monotonically_increasing_id is NOT: a fetch-failure retry could reorder
    * rows and duplicate/drop matches). The trade-off: rows with identical
    * payloads share a salt, so a hot key whose rows are byte-identical will
    * not fan out. For that degenerate shape pass `saltExpr` derived from a
    * unique column (e.g. `xxhash64(col("row_id"))`). Any deterministic
    * assignment is correct — the small side is replicated across all n
    * salts. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, n: Int,
                 saltExpr: Option[Column] = None): DataFrame = {
    require(n > 0)
    val salt = "__graft_salt"
    require(!big.columns.contains(salt) && !small.columns.contains(salt),
      s"inputs must not carry a $salt column")
    // statically reject the shape where the payload hash is provably
    // constant per key (big projected to the key alone): the salt would
    // never fan out and the operator's purpose is silently defeated
    require(saltExpr.isDefined || big.columns.exists(_ != key),
      s"big is projected to only '$key' — payload-derived salt cannot fan " +
        "out a hot key; pass saltExpr over a unique column instead")
    val basis = saltExpr.getOrElse(xxhash64(big.columns.map(col).toSeq: _*))
    val salted = big.withColumn(salt, pmod(basis, lit(n.toLong)).cast("int"))
    val replicated = small.withColumn(salt,
      explode(sequence(lit(0), lit(n - 1))))
    salted.join(replicated, Seq(key, salt)).drop(salt)
  }
}
