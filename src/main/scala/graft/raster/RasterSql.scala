package graft.raster

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-SQL validation failure on the raster path — surfaced as 422,
  * the reference's raster-analysis "failed" status
  * (`queries.py:617-625`). */
final case class RasterSqlException(detail: String) extends RuntimeException(detail)

/** A compiled OTF raster query: the fused per-tile spec plus the
  * final-projection SQL over the merged partials (`k, c, s0..sN`). */
final case class CompiledRasterQuery(
    spec: ZonalSpec,
    outputs: Seq[(String, String)],
    orderBy: Seq[(String, Boolean)],
    limit: Option[Int],
    listing: Boolean = false) {
  def isGlobal: Boolean = !listing && spec.keys.isEmpty
}

/** The OTF raster SQL dialect over data-environment layers (SURVEY
  * §2.4/§3.2; reference `_query_raster` → raster analysis engine,
  * `queries.py:548-575`, payload shape
  * `tests_v2/fixtures/otf_payload/otf_payload.py:44`):
  *
  * {{{
  * SELECT <layer | sum(layer) | count(*) | avg(layer)> ...
  * FROM data                      -- rewritten to the default layer
  * WHERE <layer cmp literal> [AND|OR|NOT|IN ...]
  * GROUP BY <layer>, ...  [ORDER BY <out-col>] [LIMIT n]
  * }}}
  *
  * Compilation is Spark-first: the text parses through Catalyst's own
  * `CatalystSqlParser`, and the unresolved plan is walked — Aggregate /
  * Project / Filter / UnresolvedRelation — so quoting, precedence, and
  * literal typing are exactly Spark's. Group keys pack into one BIGINT
  * by layer `keyBound` strides; measures sum as exact fixed-point
  * longs; WHERE compiles to [[PixelPred]] trees over the same
  * [[PixelFn]]s. One [[ZonalPartial]] pass per tile then a single
  * partial-merge shuffle executes the whole query (the 100 TB shape:
  * the shuffle carries per-tile `(key, count, sums)` rows only).
  *
  * Special literal typing against the layer being compared
  * (`queries.py:628-651` + alert-system conventions):
  *   - boolean layers (`is__*`): `'true'`/`'false'`
  *   - date layers (`*__date`): `'YYYY-MM-DD'` → days since epoch
  *   - dictionary layers: a raster-table meaning string → its value
  */
object RasterSql {

  // ------------------------------------------------------------- compile

  def compile(sql: String, env: DataEnvironment): CompiledRasterQuery = {
    val plan =
      try CatalystSqlParser.parsePlan(sql)
      catch { case e: Exception => throw RasterSqlException(
        s"Could not parse SQL query: ${Option(e.getMessage).getOrElse("syntax error")}") }

    var limit: Option[Int] = None
    var orderBy: Seq[(String, Boolean)] = Nil
    var p: LogicalPlan = plan match {
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, child)) =>
        limit = Some(n); child
      case other => other
    }
    p = p match {
      case s: Sort =>
        orderBy = s.order.map {
          case SortOrder(a: UnresolvedAttribute, dir, _, _) =>
            (a.name, dir == Ascending)
          case o => throw RasterSqlException(
            s"ORDER BY supports output columns only, got: ${o.sql}")
        }
        s.child
      case other => other
    }

    val (groupExprs, selectList, child) = p match {
      case a: Aggregate => (a.groupingExpressions, a.aggregateExpressions, a.child)
      case pr: Project => (Nil: Seq[Expression], pr.projectList, pr.child)
      case other => throw RasterSqlException(
        s"Unsupported query shape for raster analysis: ${other.nodeName}")
    }
    val (whereOpt, rel) = child match {
      case Filter(cond, r: UnresolvedRelation) => (Some(cond), r)
      case r: UnresolvedRelation => (None, r)
      case other => throw RasterSqlException(
        "Raster queries support a single table with an optional WHERE, got: " +
          other.nodeName)
    }

    // every referenced layer contributes its source bands — the union
    // is the scan's projected band set (column pruning through the
    // fused expression)
    val usedBands = scala.collection.mutable.SortedSet.empty[Int]
    def layer(name: String): RasterLayer = {
      val ly = env.layers.getOrElse(name,
        throw RasterSqlException(s"Layer '$name' is invalid"))
      usedBands ++= ly.srcBands
      ly
    }

    val baseLayer = layer(rel.multipartIdentifier.last)

    // ---- group keys: layers packed by keyBound strides ----
    // `isoweek(<date layer>)` is the one derived key the dialect
    // accepts (the GLAD-by-isoweek rewrite, `analysis.py:143-145`):
    // a synthetic layer whose eval reads a precomputed day→week table
    def isoweekLayer(a: UnresolvedAttribute): RasterLayer = {
      val ly = layer(a.name)
      val epoch = ly.dateEpoch.getOrElse(throw RasterSqlException(
        s"isoweek expects a date layer, got ${a.name}"))
      RasterLayer(s"isoweek(${a.name})",
        DataEnvironment.IsoWeekFn(ly.eval, epoch, ly.keyBound.toInt),
        keyBound = 55, decodeSql = k => s"CAST($k AS INT)")
    }
    val keyLayers: Seq[RasterLayer] = groupExprs.map {
      case a: UnresolvedAttribute => layer(a.name)
      case f: UnresolvedFunction
        if f.nameParts.last.equalsIgnoreCase("isoweek") =>
        f.arguments match {
          case Seq(a: UnresolvedAttribute) => isoweekLayer(a)
          case _ => throw RasterSqlException(
            "isoweek expects a single date-layer argument")
        }
      case other => throw RasterSqlException(
        s"GROUP BY supports layer names only, got: ${other.sql}")
    }
    // composite key packing: k = Σ keyᵢ·strideᵢ in one long. The
    // product of key bounds must fit 63 bits or the packing silently
    // wraps and unrelated groups collide — fail loudly instead (three
    // float layers at the default 2^33 bound already overflow).
    val strides: Seq[Long] =
      keyLayers.scanLeft(1L) { (acc, l) =>
        if (acc > Long.MaxValue / l.keyBound)
          throw RasterSqlException(
            "GROUP BY key space overflows 63-bit packing: " +
              keyLayers.map(k => s"${k.name}(2^${63 - java.lang.Long
                .numberOfLeadingZeros(k.keyBound)})").mkString(" × ") +
              " — group by fewer wide (float/date) layers")
        acc * l.keyBound
      }.init

    // ---- WHERE → PixelPred tree ----
    import PixelPreds._
    def constFor(ly: RasterLayer, l: Literal): Double = l.value match {
      case null => throw RasterSqlException("NULL literals are not supported")
      case v: java.lang.Number => v.doubleValue()
      case d: Decimal => d.toDouble
      case _ =>
        val s = l.value.toString
        if (ly.isBool) s.toLowerCase match {
          case "true" => 1.0
          case "false" => 0.0
          case _ => throw RasterSqlException(
            s"Boolean layer ${ly.name} compares against 'true'/'false', got '$s'")
        }
        else ly.dateEpoch match {
          case Some(epoch) =>
            val d = try LocalDate.parse(s) catch { case _: Exception =>
              throw RasterSqlException(s"Invalid date literal '$s' for layer ${ly.name}") }
            ChronoUnit.DAYS.between(epoch, d).toDouble
          case None =>
            ly.dict.collectFirst { case (k, m) if m == s => k.toDouble }.getOrElse(
              throw RasterSqlException(
                s"String literal '$s' does not match layer ${ly.name}"))
        }
    }
    def cmpPred(c: BinaryComparison): PixelPred = {
      val (a, litv, flipped) = (c.left, c.right) match {
        case (at: UnresolvedAttribute, l: Literal) => (at, l, false)
        case (l: Literal, at: UnresolvedAttribute) => (at, l, true)
        case _ => throw RasterSqlException(
          s"Raster filters compare a layer with a literal, got: ${c.sql}")
      }
      val ly = layer(a.name)
      val rhs = constFor(ly, litv)
      c match {
        case _: EqualTo => Eq(ly.eval, rhs)
        case _: GreaterThan => if (flipped) Lt(ly.eval, rhs) else Gt(ly.eval, rhs)
        case _: GreaterThanOrEqual => if (flipped) Le(ly.eval, rhs) else Ge(ly.eval, rhs)
        case _: LessThan => if (flipped) Gt(ly.eval, rhs) else Lt(ly.eval, rhs)
        case _: LessThanOrEqual => if (flipped) Ge(ly.eval, rhs) else Le(ly.eval, rhs)
        case other => throw RasterSqlException(s"Unsupported comparison: ${other.sql}")
      }
    }
    def pred(e: Expression): PixelPred = e match {
      case And(l, r) => AndP(pred(l), pred(r))
      case Or(l, r) => OrP(pred(l), pred(r))
      case Not(c) => NotP(pred(c))
      case In(at: UnresolvedAttribute, list) =>
        val ly = layer(at.name)
        InP(ly.eval, list.map {
          case l: Literal => constFor(ly, l).toLong
          case o => throw RasterSqlException(s"IN list must be literals, got: ${o.sql}")
        }.toSet)
      case c: BinaryComparison => cmpPred(c)
      case other => throw RasterSqlException(s"Unsupported filter: ${other.sql}")
    }
    val preds: Seq[PixelPred] =
      whereOpt.map(pred).toSeq ++ baseLayer.noDataPred.toSeq

    // ---- SELECT list → measures + output projection ----
    val valFns = scala.collection.mutable.ArrayBuffer.empty[PixelFn]
    def addVal(fn: PixelFn): Int = { valFns += fn; valFns.length - 1 }
    val global = keyLayers.isEmpty
    val countExpr = if (global) "coalesce(c, CAST(0 AS BIGINT))" else "c"

    // non-aggregate select list with no GROUP BY → pixel LISTING mode
    // (the alerts-download shape: one row per masked+filtered pixel)
    def hasAggFn(e: Expression): Boolean = e.exists {
      case f: UnresolvedFunction =>
        Set("sum", "count", "avg", "min", "max")(f.nameParts.last.toLowerCase)
      case _ => false
    }
    if (keyLayers.isEmpty && !selectList.exists(hasAggFn)) {
      val g = env.grid
      def listOutput(e: Expression, nameOpt: Option[String]): (String, String) = e match {
        case a: UnresolvedAttribute => a.name match {
          case "latitude" =>
            (nameOpt.getOrElse("latitude"),
              s"CAST(${g.latCenterSql("gy")} AS DOUBLE)")
          case "longitude" =>
            (nameOpt.getOrElse("longitude"),
              s"CAST(${g.lonCenterSql("gx")} AS DOUBLE)")
          case "area__ha" =>
            (nameOpt.getOrElse("area__ha"),
              s"CAST(${g.microHaSql("gy")} AS DOUBLE) / 1000000.0")
          case n =>
            val ly = layer(n)
            val i = addVal(ly.eval)
            (nameOpt.getOrElse(n), ly.decodeSql(s"element_at(vs, ${i + 1})"))
        }
        case other => throw RasterSqlException(
          s"Pixel listings select layers / latitude / longitude, got: ${other.sql}")
      }
      val listOutputs = selectList.map {
        case Alias(c, n) => listOutput(c, Some(n))
        case UnresolvedAlias(c, _) => listOutput(c, None)
        case other => listOutput(other, None)
      }
      return CompiledRasterQuery(
        ZonalSpec(env.grid, Nil, Nil, valFns.toSeq, preds,
          usedBands.toSeq, env.bands.length),
        listOutputs, orderBy, limit, listing = true)
    }

    def argLayer(f: UnresolvedFunction): RasterLayer = f.arguments match {
      case Seq(a: UnresolvedAttribute) => layer(a.name)
      case args => throw RasterSqlException(
        s"${f.nameParts.last} expects a single layer argument, got: " +
          args.map(_.sql).mkString(", "))
    }

    def output(e: Expression, nameOpt: Option[String]): (String, String) = e match {
      case a: UnresolvedAttribute =>
        val idx = keyLayers.indexWhere(_.name == a.name)
        if (idx < 0) throw RasterSqlException(
          s"Column ${a.name} must appear in GROUP BY")
        val ly = keyLayers(idx)
        val raw = s"((k DIV ${strides(idx)}) % ${ly.keyBound})"
        (nameOpt.getOrElse(a.name), ly.decodeSql(raw))
      case f: UnresolvedFunction =>
        if (f.isDistinct) throw RasterSqlException("DISTINCT aggregates are not supported")
        f.nameParts.last.toLowerCase match {
          case "isoweek" =>
            val keyName = f.arguments match {
              case Seq(a: UnresolvedAttribute) => s"isoweek(${a.name})"
              case _ => throw RasterSqlException(
                "isoweek expects a single date-layer argument")
            }
            val idx = keyLayers.indexWhere(_.name == keyName)
            if (idx < 0) throw RasterSqlException(
              s"Column $keyName must appear in GROUP BY")
            val ly = keyLayers(idx)
            val raw = s"((k DIV ${strides(idx)}) % ${ly.keyBound})"
            (nameOpt.getOrElse(keyName), ly.decodeSql(raw))
          case "count" =>
            f.arguments match {
              case Seq(_: UnresolvedStar) | Seq(Literal(_, _)) | Nil =>
                (nameOpt.getOrElse("count"), countExpr)
              case _ => throw RasterSqlException("count supports count(*) only")
            }
          case "sum" =>
            val ly = argLayer(f)
            val i = addVal(ly.eval)
            val expr =
              if (ly.sumScale == 1.0) s"s$i"
              else s"CAST(s$i AS DOUBLE) / ${ly.sumScale}"
            (nameOpt.getOrElse(s"sum(${ly.name})"), expr)
          case "avg" =>
            val ly = argLayer(f)
            val i = addVal(ly.eval)
            val expr =
              if (ly.sumScale == 1.0) s"CAST(s$i AS DOUBLE) / $countExpr"
              else s"CAST(s$i AS DOUBLE) / ${ly.sumScale} / $countExpr"
            (nameOpt.getOrElse(s"avg(${ly.name})"), expr)
          case other => throw RasterSqlException(
            s"Function $other is not supported on raster datasets")
        }
      case other => throw RasterSqlException(
        s"Unsupported SELECT item for raster analysis: ${other.sql}")
    }

    val outputs = selectList.map {
      case Alias(c, n) => output(c, Some(n))
      case UnresolvedAlias(c, _) => output(c, None)
      case other => output(other, None)
    }
    if (outputs.isEmpty) throw RasterSqlException("Empty SELECT list")

    CompiledRasterQuery(
      ZonalSpec(env.grid, keyLayers.map(_.eval), strides, valFns.toSeq, preds,
        usedBands.toSeq, env.bands.length),
      outputs, orderBy, limit)
  }

  // ------------------------------------------------------------- execute

  /** A tile kernel's children over `rows`: the AOI, the tile
    * coordinates and the band columns `spec.usedBands` indexes in
    * `bands`. */
  private def kernelChildren(aoi: Column, spec: ZonalSpec,
                             bands: Seq[String]): Seq[Expression] = {
    import org.apache.spark.sql.graft.ColumnBridge
    (aoi +: col("tx") +: col("ty") +: spec.usedBands.map(i => col(bands(i))))
      .map(ColumnBridge.expression)
  }

  /** THE zonal pass: one fused [[ZonalPartial]] per row of `rows` (a
    * pruned lake scan, or (feature, tile) pairs), then one shuffle
    * merging the per-tile partials by `by` and, when `keyed`, the
    * packed key. Columns: `by…`, `k` (when keyed), `c` (pixel count),
    * `s0…` (the exact long sums of `spec.vals`). */
  def merged(rows: DataFrame, aoi: Column, spec: ZonalSpec, bands: Seq[String],
             by: Seq[String] = Nil, keyed: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val zp = ColumnBridge.column(ZonalPartial(spec, kernelChildren(aoi, spec, bands)))
    val nv = spec.vals.length
    val parts = rows
      .select(by.map(col) :+ explode(zp).as("p"): _*)
      .select(by.map(col) ++ (col("p.k").as("k") +: col("p.c").as("pc") +:
        (0 until nv).map(i => element_at(col("p.ss"), i + 1).as(s"ps$i"))): _*)
    val aggs = sum(col("pc")).as("c") +:
      (0 until nv).map(i => sum(col(s"ps$i")).as(s"s$i"))
    val keys = if (keyed) by :+ "k" else by
    if (keys.isEmpty) parts.agg(aggs.head, aggs.tail: _*)
    else parts.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The pixel LISTING pass: one fused [[PixelList]] per row of
    * `rows`, one `(by…, gx, gy, vs)` row per masked and filtered
    * pixel. */
  private def listed(rows: DataFrame, aoi: Column, cq: CompiledRasterQuery,
                     env: DataEnvironment, by: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val pl = ColumnBridge.column(PixelList(cq.spec, kernelChildren(aoi, cq.spec, env.bands)))
    rows.select(by.map(col) :+ explode(pl).as("p"): _*)
      .select(by.map(col) ++ Seq(col("p.gx").as("gx"), col("p.gy").as("gy"),
        col("p.vs").as("vs")): _*)
  }

  private def project(df: DataFrame, cq: CompiledRasterQuery, by: Seq[String]): DataFrame =
    df.selectExpr(by ++ cq.outputs.map { case (n, e) => s"$e AS `$n`" }: _*)

  /** ORDER BY (after `lead`) and LIMIT of the user's query. */
  private def ordered(df: DataFrame, cq: CompiledRasterQuery,
                      lead: Seq[Column] = Nil): DataFrame = {
    val sorted =
      if (cq.orderBy.isEmpty) df
      else df.orderBy(lead ++ cq.orderBy.map { case (n, asc) =>
        if (asc) col(n).asc else col(n).desc }: _*)
    cq.limit.fold(sorted)(sorted.limit)
  }

  /** Run a compiled query over the (already AOI-pruned) lake scan:
    * one fused pass per tile, one shuffle of the per-tile partials,
    * then the decode projection. */
  def execute(lake: DataFrame, cq: CompiledRasterQuery, aoiGeoJson: String,
              env: DataEnvironment): DataFrame =
    if (cq.listing) ordered(project(listed(lake, lit(aoiGeoJson), cq, env, Nil), cq, Nil), cq)
    else ordered(project(merged(lake, lit(aoiGeoJson), cq.spec, env.bands,
      keyed = !cq.isGlobal), cq, Nil), cq)

  /** Many-AOI variant: `pairs` carries `(fid, gj, tx, ty, bands…)` —
    * one (feature, tile) row per bbox-intersecting pair. The SAME
    * compiled query runs fused per pair (the AOI is a column;
    * [[ZonalPartial]] memoizes the parse per distinct feature) and a
    * single shuffle groups partials by `(fid, key)` — the whole batch
    * is ONE Spark job regardless of feature count. */
  def executeBatch(pairs: DataFrame, cq: CompiledRasterQuery,
                   env: DataEnvironment): DataFrame = {
    val fid = Seq("fid")
    if (cq.listing)
      // batch pixel LISTING (the per-feature alert-download contract,
      // reference `queries.py:300-343`): the same fused per-(feature,
      // tile) pass, emitting one row per masked+filtered pixel — no
      // shuffle at all unless the user ordered the output. Tiles
      // partition pixels, so (fid, gx, gy) rows are exact and unique.
      // Deterministic per-feature download order: fid leads, then the
      // user's ORDER BY columns.
      ordered(project(listed(pairs, col("gj"), cq, env, fid), cq, fid), cq,
        lead = Seq(col("fid")))
    else {
      val grouped = merged(pairs, col("gj"), cq.spec, env.bands, fid, keyed = !cq.isGlobal)
      // parity with the single-AOI path: a feature whose mask+filter
      // passes zero pixels still gets its global-aggregate row (COUNT
      // coalesces to 0 downstream) — groupBy alone would drop the fid
      // entirely where execute() returns one row
      project(if (cq.isGlobal) pairs.select("fid").distinct().join(grouped, fid, "left")
        else grouped, cq, fid)
    }
  }
}
