package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the data-quality family (q69 profile, q70 constraint
  * audit, q71 entity resolution) beyond the DuckDB hash oracle: the
  * oracle pins engine-equivalence, these pin the SEMANTICS (a profile
  * that miscounted nulls identically in both engines would still
  * hash-match — these wouldn't let it).
  */
class DataQualitySpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-dq-test")
  private val Sf = "/root/testdata/sf0.001"

  test("q69 profile: row counts, null counts, and key cardinality") {
    val orders = core.Tables(spark, Sf).orders
    val n = orders.count()
    val rows = SparkEntry.queries("q69_data_profile")(spark, Sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size === 6)
    rows.values.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_rows")) === n)
      assert(r.getLong(r.fieldIndex("n_nulls")) === 0L)
    }
    // primary key: every value distinct
    assert(rows("o_orderkey").getLong(
      rows("o_orderkey").fieldIndex("n_distinct")) === n)
    // 1-char status column: mean length is exactly 1.00
    assert(rows("o_orderstatus").getLong(
      rows("o_orderstatus").fieldIndex("avg_len_x100")) === 100L)
    // low-cardinality domains stay low however big the table is
    assert(rows("o_orderstatus").getLong(
      rows("o_orderstatus").fieldIndex("n_distinct")) <= 3L)
  }

  test("q70 audit: referential integrity passes, acctbal check fails") {
    val rows = SparkEntry.queries("q70_constraint_audit")(spark, Sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.size === 10)
    Seq("orders_pk_unique", "fk_lineitem_orders", "fk_orders_customer",
        "fk_lineitem_part", "orders_status_domain",
        "documents_text_nonempty").foreach { c =>
      assert(rows(c) === ((0L, "pass")), s"expected $c to pass")
    }
    // real TPC-H-ish data has negative balances — the fail path is live
    val (v, s) = rows("customer_acctbal_nonneg")
    assert(v > 0L && s === "fail")
  }

  test("q72 anomaly: one row per day, flag consistent with the fence") {
    val orders = core.Tables(spark, Sf).orders
    val nDays = orders.select(to_date(col("o_orderdate"))).distinct().count()
    val rows = SparkEntry.queries("q72_anomaly_mad")(spark, Sf).collect()
    assert(rows.length === nDays)
    rows.foreach { r =>
      val score = r.getLong(r.fieldIndex("score_micro"))
      val flag = r.getLong(r.fieldIndex("is_outlier"))
      assert(score >= 0L)
      assert(flag === (if (score >= 3500000L) 1L else 0L))
    }
  }

  test("llm_url_canonical: every surface form collapses, none survive") {
    val nDocs = core.Tables(spark, Sf).documents.count()
    val rows = SparkEntry.queries("llm_url_canonical")(spark, Sf).collect()
    val canon = "^example\\d\\.com/p/\\d+$".r
    rows.foreach { r =>
      val url = r.getString(r.fieldIndex("canonical_url"))
      assert(canon.findFirstIn(url).isDefined,
        s"uncanonical residue: $url")
    }
    // partition: every planted URL lands in exactly one canonical group
    assert(rows.map(_.getLong(1)).sum === nDocs)
  }

  test("g45 incremental WCC ≡ g10 from-scratch WCC, label for label") {
    def labels(name: String) =
      SparkEntry.queries(name)(spark, Sf).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val inc = labels("g45_incremental_wcc")
    val full = labels("g10_wcc")
    assert(inc.nonEmpty && inc === full)
  }

  test("llm_warc_parse: every record length-validates, ids round-trip") {
    val docs = core.Tables(spark, Sf).documents
    val nSources = docs.select(col("source")).distinct().count()
    val rows = SparkEntry.queries("llm_warc_parse")(spark, Sf).collect()
    assert(rows.length === nSources)
    val total = rows.map(_.getLong(rows.head.fieldIndex("n_records"))).sum
    assert(total === docs.count())
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_len_mismatch")) === 0L,
        r.getString(0))
    }
  }

  test("q71 ER: exactly the injected duplicates are linked (P=R=1)") {
    val nParts = core.Tables(spark, Sf).part.count()
    val nDirty = core.Tables(spark, Sf).part
      .filter(col("p_partkey") % 5 === 0).count()
    val rows = SparkEntry.queries("q71_entity_resolution")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === nParts + nDirty)
    rows.foreach { case (id, entity, matches) =>
      if (id >= 1000000L) {
        // recall: every dirty copy resolves to its base record
        assert(entity === id - 1000000L && matches === 1L,
          s"dirty $id resolved to $entity with $matches matches")
      } else if (id % 5 == 0) {
        // base of an injected pair: linked only to its own copy, and
        // min-label keeps the base id as the entity
        assert(entity === id && matches === 1L)
      } else {
        // precision: untouched records link to nothing
        assert(entity === id && matches === 0L,
          s"base $id spuriously matched ($matches)")
      }
    }
  }
}
