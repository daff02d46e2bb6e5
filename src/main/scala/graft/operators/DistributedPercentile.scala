package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, LongType, StructType}

/** EXACT grouped percentiles with linear interpolation — the semantics
  * of Spark's `percentile()` and DuckDB's `quantile_cont` — computed by
  * distributed selection instead of per-group value buffering.
  *
  * Spark's exact `percentile()` is a TypedImperativeAggregate whose
  * buffer holds EVERY value of the group; at 100 TB a hot group is
  * hundreds of billions of doubles in one executor's aggregation
  * buffer, which is the canonical OOM. `approx_percentile` is the
  * sketch answer when error is acceptable; this operator is the exact
  * answer when it isn't:
  *
  *  1. tag each requested value column with an index and explode to
  *     (tag, group, value) rows — ONE scan of the source regardless of
  *     how many columns are requested;
  *  2. range-repartition into `buckets` ordered (tag, group, value)
  *     ranges and materialize ONCE (the PrefixSum checkpoint pattern —
  *     boundaries are sampled, every consumer must see the same cut);
  *  3. per-(partition, tag, group) counts → driver. O(partitions +
  *     groups·columns) rows, NEVER O(rows) — same bounded-collect
  *     contract as the IVF centroid table: group cardinality must be
  *     driver-small, which matches the output (one row per group)
  *     being driver-small;
  *  4. the counts give each (tag, group)'s n, hence the exact 1-based
  *     ranks floor/ceil((n−1)·p)+1 each percentile needs, and each
  *     partition's per-(tag, group) base offset;
  *  5. one partition-local sort + accumulator pass emits ONLY the rows
  *     whose global in-group rank is needed — ≤ 2·|ps| rows per
  *     (tag, group) cross the wire;
  *  6. interpolation on the driver over the selected rows, mirroring
  *     Percentile's weighted form (v_lo·(hi−pos) + v_hi·(pos−lo),
  *     lower value when lo == hi) so results are bit-identical to the
  *     built-in.
  *
  * NULL values are ignored (as `percentile()` does). A group whose
  * values are all NULL in ONE column gets a NULL in that column's
  * outputs; a group that is all-NULL in EVERY requested column is
  * absent entirely (the built-in would keep it with all-NULL cells —
  * the one divergence, which callers with nullable value columns should
  * mind). The range-partition checkpoint is released on every path —
  * callers need not release the (tiny, driver-assembled) result.
  */
object DistributedPercentile {

  /** Single value column: one output row per distinct `groupCol` with
    * one double column per (name, p) in `ps`. `buckets = 0` (default)
    * sizes the range-partition count to data volume.
    */
  def exact(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)], buckets: Int = 0): DataFrame =
    exactMulti(df, groupCol, Seq(valueCol -> ps), buckets)

  /** Multi-column form — one source scan total: `specs` maps each value
    * column to its requested (output name, percentile) list; output
    * column order follows `specs` order.
    */
  def exactMulti(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(String, Double)])],
      buckets: Int = 0): DataFrame =
    exactKeys(df, Seq(groupCol), specs, buckets)

  /** Range-bucket count: `buckets` when ≥ 1, else volume-adaptive — each
    * range bucket is sorted in one task, and a fixed 32 paid 32-task
    * stages on kilobyte inputs AND would under-partition a 100 TB one.
    * The grain is 256 KB of ESTIMATED bytes per bucket (cap 32768): the
    * estimate is compressed-scan-anchored and undercounts in-memory row
    * size ~10-20x, so 256 KB estimated is a few MB of real sort per
    * task — small enough to keep the CPU-bound sort parallel (a 64 MB
    * grain measured a single bucket serializing a ~2M-row sort, +1.3 s
    * on q36 at sf0.1). Shared with PrefixSum.
    */
  private[operators] def rangeBuckets(df: DataFrame, buckets: Int): Int =
    if (buckets >= 1) buckets
    else {
      val per = 256L * 1024
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      ((bytes + per - 1) / per).max(1).min(32768).toInt
    }

  private def containsBinary(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case BinaryType => true
      case s: StructType => s.fields.exists(f => containsBinary(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsBinary(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        containsBinary(m.keyType) || containsBinary(m.valueType)
      case _ => false
    }

  /** Fully general form: compound group key (`groupCols`, in output
    * order) × multiple value columns. The key travels as ONE struct
    * through the range partitioning (structs order field-by-field, so
    * the partition ranges respect the compound key) and unpacks back
    * into its columns in the output.
    */
  def exactKeys(df: DataFrame, groupCols: Seq[String],
      specs: Seq[(String, Seq[(String, Double)])],
      buckets: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(specs.nonEmpty && specs.forall(_._2.nonEmpty),
      "need at least one percentile per value column")
    require(specs.forall(_._2.forall { case (_, p) => p >= 0.0 && p <= 1.0 }),
      s"percentiles must be in [0,1]: $specs")
    require(buckets >= 0, s"buckets must be >= 0 (0 = auto), got $buckets")
    groupCols.foreach { g =>
      require(!containsBinary(df.schema(g).dataType),
        s"BinaryType group key '$g' unsupported: Array[Byte] equality is " +
          "referential in the driver-side offset maps")
    }
    val spark = df.sparkSession

    // (tag, group, value) rows: one pass over df covers every column;
    // the compound key packs into a single ordered struct column
    val keyCol =
      if (groupCols.size == 1) col(groupCols.head)
      else struct(groupCols.map(col): _*)
    val tagged = df.select(keyCol.as("__g"),
      explode(array(specs.zipWithIndex.map { case ((vc, _), i) =>
        struct(lit(i).as("__t"), col(vc).cast("double").as("__v"))
      }: _*)).as("__tv"))
      .select(col("__g"), col("__tv.__t").as("__t"), col("__tv.__v").as("__v"))
      .filter(col("__v").isNotNull)

    // The cut positions only affect which partition a rank lands in,
    // never the selected values or the interpolation — results are
    // bit-identical for any bucket count.
    graft.core.Checkpoints.scoped { scope =>
      val parted = scope.checkpoint(tagged
        .repartitionByRange(rangeBuckets(tagged, buckets),
          col("__t"), col("__g"), col("__v"))
        .withColumn("__part", spark_partition_id()))
      // O(partitions + groups·columns) — bounded by group cardinality
      val sub = parted.groupBy(col("__part"), col("__t"), col("__g"))
        .agg(count(lit(1)).as("__n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.get(2), r.getLong(3)))

      val nByTG: Map[(Int, Any), Long] = sub.groupBy(r => (r._2, r._3))
        .map { case (tg, rs) => tg -> rs.map(_._4).sum }
      // base offset of each (partition, tag, group): counts of the same
      // (tag, group) in range-earlier partitions (partition index
      // increases with the range order)
      val offsets: Map[(Int, Int, Any), Long] =
        sub.groupBy(r => (r._2, r._3)).flatMap { case ((t, g), rs) =>
          val sorted = rs.sortBy(_._1)
          sorted.map(_._1).zip(
            sorted.map(_._4).scanLeft(0L)(_ + _).init)
            .map { case (part, off) => (part, t, g) -> off }
        }
      // 1-based ranks each (tag, group) needs: floor/ceil((n−1)·p)+1
      val needed: Map[(Int, Any), Set[Long]] = nByTG.map { case ((t, g), n) =>
        (t, g) -> specs(t)._2.flatMap { case (_, p) =>
          val pos = (n - 1) * p
          Seq(math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
        }.toSet
      }

      val midSchema = new StructType()
        .add(parted.schema.fields(0).copy(name = "__g"))
        .add("__t", IntegerType, nullable = false)
        .add("__rank", LongType, nullable = false)
        .add("__v", DoubleType, nullable = false)
      val selected = parted
        .sortWithinPartitions(col("__t"), col("__g"), col("__v"))
        .mapPartitions { it =>
          var curT = -1
          var curG: Any = null
          var started = false
          var rank = 0L
          var curNeeded: Set[Long] = Set.empty
          it.flatMap { r =>
            val g = r.get(0); val t = r.getInt(1)
            if (!started || t != curT || g != curG) {
              curT = t; curG = g; started = true
              rank = offsets.getOrElse((r.getInt(3), t, g), 0L)
              curNeeded = needed.getOrElse((t, g), Set.empty)
            }
            rank += 1
            if (curNeeded.contains(rank)) Some(Row(g, t, rank, r.getDouble(2)))
            else None
          }
        }(Encoders.row(midSchema))
        .collect() // O(groups × percentiles) — proportional to the result

      val byG = selected.groupBy(_.get(0))
      val out = byG.toSeq.map { case (g, rows) =>
        val vByTR = rows.map(r => (r.getInt(1), r.getLong(2)) -> r.getDouble(3))
          .toMap
        val cells = specs.zipWithIndex.flatMap { case ((_, ps), t) =>
          nByTG.get((t, g)) match {
            case None => ps.map(_ => null) // all-NULL column for this group
            case Some(n) => ps.map { case (_, p) =>
              val pos = (n - 1) * p
              val lo = math.floor(pos).toLong
              val hi = math.ceil(pos).toLong
              if (lo == hi) vByTR((t, lo + 1))
              // Percentile's weighted form, NOT lo + frac·(hi−lo): the
              // two differ in the last ulp and the oracle hash is exact
              else vByTR((t, lo + 1)) * (hi - pos) +
                vByTR((t, hi + 1)) * (pos - lo)
            }
          }
        }
        // a compound key arrives as a struct Row — unpack to its columns
        val keyCells =
          if (groupCols.size == 1) Seq(g)
          else g.asInstanceOf[Row].toSeq
        Row.fromSeq(keyCells ++ cells)
      }
      val outSchema = specs.flatMap(_._2).foldLeft(
        groupCols.foldLeft(new StructType()) { (s, gc) => s.add(df.schema(gc)) }) {
        case (s, (name, _)) => s.add(name, DoubleType, nullable = true)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1), outSchema)
    }
  }
}
