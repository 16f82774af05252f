package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GeoEngine, GeoRow}
import graft.core._
import graft.functions.{GeoExprs, GeoKernels}
import graft.ops.TextOps
import graft.store.{Snapshots, SpatialIndex}
import graft.web.Pages

/** An operation's verdict, found after its clock stopped. */
final case class Checked(errors: Seq[String], bytesWritten: Long = 0L,
                         inputBytes: Long = 0L)

/** The timed part of an operation hands back the result queries whose
  * executed plans the traced run reads, and the check still to run. */
final case class Done(plans: Seq[DataFrame], check: () => Checked)

/** A traced-run measurement of one layer, outside any operation. */
final case class Probe(name: String, run: Tracer => Map[String, Double])

/** Driver-side kernel inputs drawn from a workload's own geometries. */
final case class KernelSample(rasterize: IndexedSeq[Geom],
                              pairs: IndexedSeq[(Geom, Geom)],
                              points: IndexedSeq[(Double, Double, Geom)])

object Workload {
  val Grid: GridConfig = Pages.WorldGrid
  val Parts = 8
  val StarBase = 24; val StarMod = 17

  def make(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "web_pip" => new WebPip(spark, seed, nPages = 30000L, nPolys = 2000)
    case "poly_relate_dense" => new PolyRelateDense(spark, seed, nR = 12000, nS = 2000)
    case "index_build_query" =>
      new IndexBuildQuery(spark, seed, nStars = 4000, nPoints = 30000L,
        nWindows = 16, nKnn = 64)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Order-independent, duplicate-sensitive hash of a result's rows. */
  def hashOf(cols: Seq[String]): Column =
    coalesce(sum(xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))

  /** One action per result: row count, hash, and the rows of the sampled ids. */
  def resultAgg(df: DataFrame, idCol: String, sample: Seq[Long],
                cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n"), hashOf(cols).as("h"),
      collect_list(when(col(idCol).isin(sample: _*), struct(cols.map(col): _*))).as("s"))

  def star(id: Long, cx: Double, cy: Double, rad: Double): Geom =
    Geom(GeomType.POLYGON,
      GeoKernels.starPoly(id, cx, cy, rad, StarBase, StarMod, 0.5, 0.5).toDoubleArray())

  /** Star polygons (24–40 vertices) as GeoRow columns; the MBR is the ring's. */
  def starsDf(spark: SparkSession, centers: IndexedSeq[(Double, Double)],
              rad: Double): DataFrame = {
    import spark.implicits._
    def axis(c: Column, odd: Int) = filter(c, (_, i) => i % 2 === odd)
    centers.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "cx", "cy")
      .select(col("id"), lit(GeomType.POLYGON).as("gtype"),
        GeoExprs.starPoly(col("id"), col("cx"), col("cy"), lit(rad),
          StarBase, StarMod, 0.5, 0.5).as("coords"))
      .select(col("id"), col("gtype"), col("coords"),
        array_min(axis(col("coords"), 0)).as("xmin"),
        array_min(axis(col("coords"), 1)).as("ymin"),
        array_max(axis(col("coords"), 0)).as("xmax"),
        array_max(axis(col("coords"), 1)).as("ymax"))
  }

  def pagesDf(spark: SparkSession, base: Long, n: Long): DataFrame =
    spark.range(base, base + n, 1, Parts).select(
      GeoExprs.pageUrl(col("id")).as("url"), GeoExprs.pageText(col("id")).as("text"))

  /** Geotag and 64-bit page ids, as the pipeline's geotag stage does. */
  def geotagged(pages: DataFrame): DataFrame =
    Pages.geotag(pages).withColumn("id", GeoExprs.fnv64(col("url")))
      .select("id", "url", "x", "y")

  def pointRows(tagged: DataFrame): DataFrame =
    tagged.select(col("id"), lit(GeomType.POINT).as("gtype"),
      array(col("x"), col("y")).as("coords"), col("x").as("xmin"),
      col("y").as("ymin"), col("x").as("xmax"), col("y").as("ymax"))

  /** The oracle's own geotag of page number `k`: (id, x, y). */
  def pagePoint(k: Long): (Long, Double, Double) = {
    val url = Pages.urlFor(k)
    val id = TextOps.fnv64(url)
    val lat = TextOps.fnv64(url + "|" + Pages.textFor(k).take(64))
    (id, Math.floorMod(id, 3600000L) / 10000.0 - 180.0,
      Math.floorMod(lat, 1700000L) / 10000.0 - 85.0)
  }

  def uniform(r: java.util.Random, lo: Double, hi: Double): Double =
    lo + (hi - lo) * r.nextDouble()

  def sampleOf(r: java.util.Random, n: Long, k: Int): IndexedSeq[Long] =
    Iterator.continually(Math.floorMod(r.nextLong(), n)).distinct.take(k).toIndexedSeq

  def snapDir(root: String, table: String, id: Long): Path =
    Paths.get(root, table, f"snap-$id%05d")

  def latestDir(root: String, table: String): Path =
    snapDir(root, table, Snapshots.latestId(root, table).get)

  /** Drops every snapshot of `table` but the latest, so repeated writes do
    * not fill the disk. */
  def pruneOld(root: String, table: String): Unit = {
    val keep = latestDir(root, table).getFileName.toString
    val s = Files.list(Paths.get(root, table))
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("snap-") &&
        p.getFileName.toString != keep)
      .foreach(Stats.deleteTree)
    finally s.close()
  }

  /** Candidate pairs of the sample: every MBR-overlapping (r, s). */
  def mbrPairs(rs: Seq[Geom], ss: Seq[Geom], cap: Int): IndexedSeq[(Geom, Geom)] =
    (for (r <- rs.iterator; s <- ss.iterator if r.mbr.intersects(s.mbr)) yield (r, s))
      .take(cap).toIndexedSeq
}

abstract class Workload(val spark: SparkSession, val seed: Long) {
  import Workload._
  import spark.implicits._

  def name: String
  /** APRIL order of the workload's stored index. */
  def order: Int
  /** Generates the seeded inputs and commits them under `root`. */
  def setup(root: String): Unit
  /** Opens the committed snapshots and precomputes the oracle. */
  def prepare(root: String): Unit
  /** The fixed interleave: reads and writes alternate, starting with a read,
    * so the warm-up covers both kinds and both medians get as many samples. */
  def isWrite(i: Int): Boolean = i % 2 == 1
  def read(t: Tracer): Done
  def write(t: Tracer): Done
  /** Input rows one read or write consumes. */
  def readRows: Long
  def writeRows: Long
  def kernelSample: KernelSample

  // inputs of the traced run's layer probes
  protected def probePages: DataFrame
  protected def tileProbe: (DataFrame, Long)
  protected def joinProbe(useApril: Boolean): DataFrame
  protected def indexInput: DataFrame

  protected var root = ""
  protected def probeRoot: String = root + "-probe"

  private val refs = mutable.HashMap.empty[String, (Long, Long)]

  /** Checks one result row of `resultAgg`: the count and hash must match the
    * workload's first result of that kind, and the sampled ids' rows must
    * equal the oracle's, duplicates included. */
  protected def checkAgg(label: String, row: Row,
                         expected: Map[Long, Set[List[Any]]]): Seq[String] = {
    val n = row.getLong(0); val h = row.getLong(1)
    val (n0, h0) = refs.getOrElseUpdate(label, (n, h))
    val rows = if (row.length > 2) row.getSeq[Row](2) else Nil
    val got: Map[Long, Seq[List[Any]]] = rows.map(r => r.toSeq.toList)
      .groupBy(_.head.asInstanceOf[Long])
    val extra = got.keySet -- expected.keySet
    val bad = expected.collect {
      case (id, want) if got.getOrElse(id, Nil).sortBy(_.toString) != want.toList.sortBy(_.toString) =>
        val have = got.getOrElse(id, Nil)
        s"$label id=$id: missing ${(want -- have).take(3)}, unexpected ${have.diff(want.toList).take(3)}"
    }
    (if (n != n0 || h != h0) Seq(s"$label: rows/hash $n/$h differ from first result $n0/$h0")
     else Nil) ++
      (if (extra.nonEmpty) Seq(s"$label: rows for unsampled ids ${extra.take(3)}") else Nil) ++
      bad.take(5)
  }

  /** Plans (traced run: as its own span) and collects a one-row result. */
  protected def exec(t: Tracer, q: DataFrame): Row = {
    if (t.enabled) t.span("engine.plan") { q.queryExecution.executedPlan }
    t.span("spark.collect") { q.collect().head }
  }

  /** Verifies a committed result snapshot against the reads' reference. */
  protected def checkCommitted(table: String, label: String, idCol: String,
                               sample: Seq[Long], cols: Seq[String],
                               expected: Map[Long, Set[List[Any]]],
                               inputs: Seq[String]): Checked = {
    val df = Snapshots.load(spark, root, table).get
    val errs = checkAgg(label, resultAgg(df, idCol, sample, cols).collect().head, expected)
    val (bytes, _) = Stats.dirBytes(latestDir(root, table))
    val in = inputs.map(t => Stats.dirBytes(latestDir(root, t))._1).sum
    pruneOld(root, table)
    Checked(errs, bytes, in)
  }

  /** Layer probes: each times one module's work in isolation, over cached
    * inputs, and returns per-layer metrics. */
  def probes: Seq[Probe] = {
    def timed[T](t: Tracer, name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = t.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      Probe("web", t => {
        val (_, s) = timed(t, "web.Pages.geotag") {
          geotagged(probePages).agg(sum("x"), sum("y")).collect()
        }
        Map("web.geotag_s" -> s)
      }),
      Probe("tiles", t => {
        val (q, inRows) = tileProbe
        val (n, s) = timed(t, "engine.tile_explode") { q.collect().head.getLong(0) }
        Map("engine.tile_explode_s" -> s, "engine.tile_rows_per_row" -> n.toDouble / inRows)
      }),
      Probe("join", t => {
        def run(april: Boolean) = timed(t, s"engine.join_${if (april) "april" else "exact"}") {
          joinProbe(april).collect().head
        }
        val (exact, se) = run(false)
        val (withApril, sa) = run(true)
        if (exact.getLong(0) != withApril.getLong(0) || exact.getLong(1) != withApril.getLong(1))
          throw new IllegalStateException(
            s"APRIL and exact joins disagree: $exact vs $withApril")
        Map("engine.join_exact_s" -> se, "engine.join_april_s" -> sa)
      }),
      Probe("april_index", t => {
        val (_, s) = timed(t, "engine.GeoEngine.aprilIndex") {
          GeoEngine.aprilIndex(indexInput, Grid, order)
            .agg(count(lit(1)), sum(size(col("april_all")))).collect()
        }
        Map("engine.april_index_s" -> s)
      }),
      Probe("store", t => {
        val (_, sb) = timed(t, "store.SpatialIndex.build") {
          SpatialIndex.build(indexInput, Grid, order, probeRoot, "probe_idx")
        }
        val (bytes, files) = Stats.dirBytes(latestDir(probeRoot, "probe_idx"))
        val (_, sl) = timed(t, "store.SpatialIndex.load") {
          SpatialIndex.load(spark, probeRoot, "probe_idx").get.df
            .agg(count(lit(1)), sum(size(col("april_all")))).collect()
        }
        pruneOld(probeRoot, "probe_idx")
        Map("store.index_build_s" -> sb, "store.load_s" -> sl,
          "store.bytes_written" -> bytes.toDouble, "store.files_written" -> files.toDouble)
      }),
      Probe("funnel", t => {
        val q = joinProbe(true)
        val n = q.collect().head.getLong(0)
        val ((c, kept), _) = timed(t, "engine.funnel") { PlanStats.funnel(spark, q) }
        Map("engine.candidates" -> c.toDouble, "engine.mbr_dedup_survivors" -> kept.toDouble,
          "engine.results" -> n.toDouble)
      }))
  }

  /** Caches a frame and materializes it, for probes. */
  protected def cached(df: DataFrame): DataFrame = {
    val c = df.cache(); c.count(); c
  }

  protected def baseCols(df: DataFrame): DataFrame =
    df.select("id", "gtype", "coords", "xmin", "ymin", "xmax", "ymax")

  protected def asRows(df: DataFrame) = df.as[GeoRow]
}

/** The north-star pipeline over a committed pages snapshot: geotag → tile
  * assignment (aggregated over every column) → APRIL point-in-polygon join
  * against a stored index of diamonds. Writes commit the join, as the
  * pipeline's last stage does. */
final class WebPip(spark: SparkSession, seed: Long, nPages: Long, nPolys: Int)
    extends Workload(spark, seed) {
  import Workload._
  import spark.implicits._
  val name = "web_pip"
  val order = 10
  private val base = Math.floorMod(seed, 1000000L) * 1000000000L
  private val diamonds: IndexedSeq[GeoRow] = {
    val r = new java.util.Random(seed)
    (0 until nPolys).map { i =>
      val cx = uniform(r, -175, 175); val cy = uniform(r, -80, 80)
      val hw = uniform(r, 0.25, 5.0); val hh = uniform(r, 0.25, 4.0)
      GeoRow.of(i, Geom.polygon(Array(cx - hw, cy, cx, cy - hh, cx + hw, cy, cx, cy + hh)))
    }
  }
  private var sample: IndexedSeq[Long] = IndexedSeq.empty
  private var expected: Map[Long, Set[List[Any]]] = Map.empty
  private var kernel: KernelSample = _

  def readRows: Long = nPages + nPolys
  def writeRows: Long = nPages + nPolys

  def setup(r: String): Unit = {
    Snapshots.commit(pagesDf(spark, base, nPages), r, "pages",
      Map("stage" -> "ingest", "seed" -> seed.toString))
    SpatialIndex.build(diamonds.toDF(), Grid, order, r, "polygons_idx")
  }

  def prepare(r: String): Unit = {
    root = r
    val pts = sampleOf(new java.util.Random(seed * 31 + 7), nPages, 256)
      .map(k => pagePoint(base + k))
    sample = pts.map(_._1)
    val polys = diamonds.map(d => d.id -> Geom(d.gtype, d.coords))
    expected = pts.map { case (id, x, y) =>
      val p = Geom.point(x, y)
      id -> polys.collect {
        case (sid, g) if Topology.evalPredicate(Predicates.INTERSECTS, p, g) => List[Any](id, sid)
      }.toSet
    }.toMap
    val pointGeoms = pts.map { case (_, x, y) => Geom.point(x, y) }
    val pairs = mbrPairs(pointGeoms, polys.map(_._2), 4000)
    kernel = KernelSample(polys.map(_._2).take(400), pairs,
      pairs.map { case (p, g) => (p.x(0), p.y(0), g) })
  }

  def kernelSample: KernelSample = kernel

  private def tagged(t: Tracer): DataFrame = {
    val pages = t.span("store.Snapshots.load") { Snapshots.load(spark, root, "pages").get }
    t.span("web.Pages.geotag") { geotagged(pages) }
  }

  private def join(t: Tracer, tagged: DataFrame): DataFrame = {
    val idx = t.span("store.SpatialIndex.load") {
      SpatialIndex.load(spark, root, "polygons_idx").get
    }
    t.span("engine.GeoEngine.spatialJoin") {
      GeoEngine.spatialJoin(asRows(pointRows(tagged)), asRows(idx.df),
        Predicates.INTERSECTS, Grid, useApril = true, aprilOrder = order,
        sMeta = Some(idx.meta))
    }
  }

  private val JoinCols = Seq("rid", "sid")
  private val TileCols = Seq("id", "tile", "coarseTile", "clazz", "hexCell")

  def read(t: Tracer): Done = {
    val tg = tagged(t)
    val tiles = t.span("engine.GeoEngine.tileAssignments") {
      GeoEngine.tileAssignments(tg, Grid, hexRes = 7)
    }
    val tq = tiles.agg(count(lit(1)), hashOf(TileCols))
    val tr = exec(t, tq)
    val jq = resultAgg(join(t, tg), "rid", sample, JoinCols)
    val jr = exec(t, jq)
    Done(Seq(tq, jq), () => Checked(
      (if (tr.getLong(0) != nPages) Seq(s"tiles: ${tr.getLong(0)} rows for $nPages pages")
       else Nil) ++ checkAgg("tiles", tr, Map.empty) ++ checkAgg("join", jr, expected)))
  }

  def write(t: Tracer): Done = {
    val joined = join(t, tagged(t))
    t.span("store.Snapshots.commit") {
      Snapshots.commit(joined, root, "joined",
        Map("stage" -> "spatial_join", "input" -> "pages+polygons_idx"))
    }
    Done(Nil, () => checkCommitted("joined", "join", "rid", sample, JoinCols, expected,
      Seq("pages", "polygons_idx")))
  }

  private lazy val pagesCache = cached(Snapshots.load(spark, root, "pages").get)
  private lazy val taggedCache = cached(geotagged(pagesCache))
  private lazy val indexCache = cached(diamonds.toDF())
  protected def probePages: DataFrame = pagesCache
  protected def tileProbe: (DataFrame, Long) =
    (GeoEngine.tileAssignments(taggedCache, Grid, hexRes = 7)
      .agg(count(lit(1)), hashOf(TileCols)), nPages)
  protected def joinProbe(useApril: Boolean): DataFrame = {
    val idx = SpatialIndex.load(spark, root, "polygons_idx").get
    GeoEngine.spatialJoin(asRows(pointRows(taggedCache)), asRows(idx.df),
      Predicates.INTERSECTS, Grid, useApril = useApril, aprilOrder = order,
      sMeta = Some(idx.meta)).agg(count(lit(1)), hashOf(JoinCols))
  }
  protected def indexInput: DataFrame = indexCache
}

/** Find-relation between dense small stars and larger stars packed into one
  * region; a seeded share of R sits in one fine tile, past the engine's
  * hot-tile threshold. Writes commit the relation table. */
final class PolyRelateDense(spark: SparkSession, seed: Long, nR: Int, nS: Int)
    extends Workload(spark, seed) {
  import Workload._
  val name = "poly_relate_dense"
  val order: Int = GeoEngine.AprilOrder
  private val RRad = 0.01; private val SRad = 0.15
  private val (x0, y0, x1, y1) = (-100.0, -8.0, -65.0, 8.0)
  private val (rCenters, sCenters) = {
    val r = new java.util.Random(seed)
    val hot = (nR * uniform(r, 0.71, 0.73)).toInt
    val tm = Grid.tileMbr(Grid.tileId(Grid.fineX(uniform(r, x0 + 1, x1 - 1)),
      Grid.fineY(uniform(r, y0 + 1, y1 - 1))))
    // a star's ring reaches between 0.5 and 1 radius from its centre, so
    // these centres put the MBR's min corner (its home tile) inside `tm`
    val rc = (0 until nR).map { i =>
      if (i < hot) (uniform(r, tm.xmin + RRad, tm.xmax + RRad / 2),
        uniform(r, tm.ymin + RRad, tm.ymax + RRad / 2))
      else (uniform(r, x0, x1), uniform(r, y0, y1))
    }
    // exactly two S stars sit over the hot tile and the others keep clear
    // of it, so its candidate count does not hinge on the seed
    val hy = (tm.ymin + tm.ymax) / 2
    val clear = MBR(tm.xmin - 2 * SRad, tm.ymin - 2 * SRad, tm.xmax + 2 * SRad, tm.ymax + 2 * SRad)
    val sc = (0 until nS).map { i =>
      if (i < 2) (tm.xmin + (if (i == 0) 0.1 else 0.3), hy)
      else Iterator.continually((uniform(r, x0, x1), uniform(r, y0, y1)))
        .find { case (x, y) => !clear.contains(x, y) }.get
    }
    (rc, sc)
  }
  private def rGeom(id: Long) = star(id, rCenters(id.toInt)._1, rCenters(id.toInt)._2, RRad)
  private def sGeom(id: Long) = star(id, sCenters(id.toInt)._1, sCenters(id.toInt)._2, SRad)

  private var sample: IndexedSeq[Long] = IndexedSeq.empty
  private var expected: Map[Long, Set[List[Any]]] = Map.empty
  private var kernel: KernelSample = _

  def readRows: Long = nR.toLong + nS
  def writeRows: Long = nR.toLong + nS

  def setup(r: String): Unit = {
    SpatialIndex.build(starsDf(spark, rCenters, RRad), Grid, order, r, "r_idx")
    SpatialIndex.build(starsDf(spark, sCenters, SRad), Grid, order, r, "s_idx")
  }

  def prepare(r: String): Unit = {
    root = r
    sample = sampleOf(new java.util.Random(seed * 31 + 7), nR, 128)
    val ss = (0 until nS).map(i => i.toLong -> sGeom(i))
    expected = sample.map { rid =>
      val g = rGeom(rid)
      rid -> ss.collect {
        case (sid, s) if g.mbr.intersects(s.mbr) =>
          List[Any](rid, sid, Topology.findRelation(g, s))
      }.toSet
    }.toMap
    val rs = sample.map(rGeom)
    val pairs = mbrPairs(rs, ss.map(_._2), 4000)
    kernel = KernelSample(rs ++ ss.take(100).map(_._2), pairs,
      pairs.map { case (a, b) => (a.x(0), a.y(0), b) })
  }

  def kernelSample: KernelSample = kernel

  private val Cols = Seq("rid", "sid", "relation")

  private def relations(t: Tracer): DataFrame = {
    val (ri, si) = t.span("store.SpatialIndex.load") {
      (SpatialIndex.load(spark, root, "r_idx").get, SpatialIndex.load(spark, root, "s_idx").get)
    }
    t.span("engine.GeoEngine.findRelationJoin") {
      GeoEngine.findRelationJoin(asRows(ri.df), asRows(si.df), Grid, useApril = true,
        aprilOrder = order, rMeta = Some(ri.meta), sMeta = Some(si.meta))
    }
  }

  def read(t: Tracer): Done = {
    val q = resultAgg(relations(t), "rid", sample, Cols)
    val row = exec(t, q)
    Done(Seq(q), () => Checked(checkAgg("relations", row, expected)))
  }

  def write(t: Tracer): Done = {
    val rel = relations(t)
    t.span("store.Snapshots.commit") {
      Snapshots.commit(rel, root, "relations", Map("stage" -> "find_relation"))
    }
    Done(Nil, () => checkCommitted("relations", "relations", "rid", sample, Cols,
      expected, Seq("r_idx", "s_idx")))
  }

  private lazy val rCache = cached(baseCols(SpatialIndex.load(spark, root, "r_idx").get.df))
  private lazy val pagesCache = cached(pagesDf(spark, seed * 1000L, 100000L))
  protected def probePages: DataFrame = pagesCache
  protected def tileProbe: (DataFrame, Long) =
    (GeoEngine.withTiles(asRows(rCache), Grid).agg(count(lit(1))), nR.toLong)
  protected def joinProbe(useApril: Boolean): DataFrame = {
    val ri = SpatialIndex.load(spark, root, "r_idx").get
    val si = SpatialIndex.load(spark, root, "s_idx").get
    GeoEngine.findRelationJoin(asRows(ri.df), asRows(si.df), Grid, useApril = useApril,
      aprilOrder = order, rMeta = Some(ri.meta), sMeta = Some(si.meta))
      .agg(count(lit(1)), hashOf(Cols))
  }
  protected def indexInput: DataFrame = rCache
}

/** Index writes beside reads: a write rebuilds the stored APRIL index of the
  * star table; a read is an APRIL range batch over seeded windows followed by
  * a kNN batch over a committed page-point table. */
final class IndexBuildQuery(spark: SparkSession, seed: Long, nStars: Int,
                            nPoints: Long, nWindows: Int, nKnn: Int)
    extends Workload(spark, seed) {
  import Workload._
  import spark.implicits._
  val name = "index_build_query"
  val order: Int = GeoEngine.AprilOrder
  private val K = 10
  private val StarRad = 0.08; private val WindowRad = 0.5
  private val (x0, y0, x1, y1) = (-100.0, -8.0, -65.0, 8.0)
  private val base = Math.floorMod(seed, 1000000L) * 1000000000L
  private val (centers, windows, knnQueries) = {
    val r = new java.util.Random(seed)
    val c = (0 until nStars).map(_ => (uniform(r, x0, x1), uniform(r, y0, y1)))
    val w = (0 until nWindows).map(i =>
      i.toLong -> star(i, uniform(r, x0 + 1, x1 - 1), uniform(r, y0 + 1, y1 - 1), WindowRad))
    val q = (0 until nKnn).map(i => (i.toLong, uniform(r, -179, 179), uniform(r, -84, 84)))
    (c, w, q)
  }
  private def starGeom(id: Long) = star(id, centers(id.toInt)._1, centers(id.toInt)._2, StarRad)

  private var windowSample: IndexedSeq[Long] = IndexedSeq.empty
  private var knnSample: IndexedSeq[Long] = IndexedSeq.empty
  private var starSample: IndexedSeq[Long] = IndexedSeq.empty
  private var rangeExpected: Map[Long, Set[List[Any]]] = Map.empty
  private var knnExpected: Map[Long, Set[List[Any]]] = Map.empty
  private var kernel: KernelSample = _
  private lazy val queriesDf = knnQueries.toDF("qid", "qx", "qy")

  def readRows: Long = nStars + nPoints
  def writeRows: Long = nStars

  def setup(r: String): Unit = {
    Snapshots.commit(starsDf(spark, centers, StarRad), r, "stars", Map("stage" -> "ingest"))
    SpatialIndex.build(Snapshots.load(spark, r, "stars").get, Grid, order, r, "stars_idx")
    Snapshots.commit(pointRows(geotagged(pagesDf(spark, base, nPoints))), r, "page_points",
      Map("stage" -> "geotag"))
  }

  def prepare(r: String): Unit = {
    root = r
    val rnd = new java.util.Random(seed * 31 + 7)
    windowSample = sampleOf(rnd, nWindows, 6)
    knnSample = sampleOf(rnd, nKnn, 16)
    starSample = sampleOf(rnd, nStars, 32)
    val stars = (0 until nStars).map(i => i.toLong -> starGeom(i))
    rangeExpected = windowSample.map { qid =>
      val w = windows(qid.toInt)._2
      qid -> stars.collect {
        case (id, s) if w.mbr.intersects(s.mbr) &&
          Topology.evalPredicate(Predicates.INTERSECTS, w, s) => List[Any](qid, id)
      }.toSet
    }.toMap
    val pts = Snapshots.load(spark, root, "page_points").get
      .select("id", "xmin", "ymin").as[(Long, Double, Double)].collect()
      .map { case (id, x, y) => id -> Geom.point(x, y) }
    knnExpected = knnSample.map { qid =>
      val (_, qx, qy) = knnQueries(qid.toInt)
      val q = Geom.point(qx, qy)
      qid -> pts.map { case (id, p) => (Topology.distance(q, p), id) }.sorted.take(K)
        .zipWithIndex.map { case ((_, id), i) => List[Any](qid, id, i + 1) }.toSet
    }.toMap
    val ws = windowSample.map(q => windows(q.toInt)._2)
    val pairs = mbrPairs(ws, stars.map(_._2), 4000)
    kernel = KernelSample(starSample.map(starGeom) ++ ws, pairs,
      pairs.map { case (w, s) => (s.x(0), s.y(0), w) })
  }

  def kernelSample: KernelSample = kernel

  private val RangeCols = Seq("qid", "id")
  private val KnnCols = Seq("qid", "id", "rnk")
  private val IndexCols = Seq("id", "april_all", "april_full")

  private def range(t: Tracer, idx: SpatialIndex.Loaded, april: Boolean): DataFrame =
    t.span("engine.GeoEngine.rangeBatch") {
      GeoEngine.rangeBatch(asRows(idx.df), windows, Grid, useApril = april,
        aprilOrder = order, dataMeta = Some(idx.meta))
    }

  def read(t: Tracer): Done = {
    val idx = t.span("store.SpatialIndex.load") { SpatialIndex.load(spark, root, "stars_idx").get }
    val rq = resultAgg(range(t, idx, april = true), "qid", windowSample, RangeCols)
    val rr = exec(t, rq)
    val pts = t.span("store.Snapshots.load") { Snapshots.load(spark, root, "page_points").get }
    val knn = t.span("engine.GeoEngine.knnBatchDf") {
      GeoEngine.knnBatchDf(asRows(pts), queriesDf, K, Some(Grid))
    }
    val kq = resultAgg(knn, "qid", knnSample, KnnCols)
    val kr = exec(t, kq)
    Done(Seq(rq, kq), () => Checked(
      checkAgg("range", rr, rangeExpected) ++ checkAgg("knn", kr, knnExpected)))
  }

  def write(t: Tracer): Done = {
    val in = t.span("store.Snapshots.load") { Snapshots.load(spark, root, "stars").get }
    t.span("store.SpatialIndex.build") {
      SpatialIndex.build(in, Grid, order, root, "stars_idx")
    }
    Done(Nil, () => {
      val idx = SpatialIndex.load(spark, root, "stars_idx").get.df
      val row = resultAgg(idx, "id", starSample, IndexCols).collect().head
      val expected = starSample.map { id =>
        val a = April.rasterize(starGeom(id), Grid.xMin, Grid.yMin, Grid.xExtent,
          Grid.yExtent, order)
        id -> Set(List[Any](id, a.all.toSeq, a.full.toSeq))
      }.toMap
      val errs = checkAgg("index", row, expected)
      val (bytes, _) = Stats.dirBytes(latestDir(root, "stars_idx"))
      val in = Stats.dirBytes(latestDir(root, "stars"))._1
      pruneOld(root, "stars_idx")
      Checked(errs, bytes, in)
    })
  }

  private lazy val starsCache = cached(Snapshots.load(spark, root, "stars").get)
  private lazy val pagesCache = cached(pagesDf(spark, base, nPoints))
  protected def probePages: DataFrame = pagesCache
  protected def tileProbe: (DataFrame, Long) =
    (GeoEngine.withTiles(asRows(starsCache), Grid).agg(count(lit(1))), nStars.toLong)
  protected def joinProbe(useApril: Boolean): DataFrame = {
    val idx = SpatialIndex.load(spark, root, "stars_idx").get
    GeoEngine.rangeBatch(asRows(idx.df), windows, Grid, useApril = useApril,
      aprilOrder = order, dataMeta = Some(idx.meta)).agg(count(lit(1)), hashOf(RangeCols))
  }
  protected def indexInput: DataFrame = starsCache
}
