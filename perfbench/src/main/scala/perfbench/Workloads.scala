package perfbench

import graft.api.{CorpusPipeline, GeoCalculator}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload: the ops of a round, how to build each op's DataFrame
  * through graft's public entry points, and the untimed check pass. */
trait Workload {
  /** Op names of one round, in run order. A round is one op, except
    * for query_mix, where it is one pass over the query list. */
  def round: Seq[String]
  /** Build one op's result. Every public graft call goes through
    * `t.span`, so a traced op records it and an untraced one does not. */
  def build(op: String, t: Tracer): DataFrame
  /** Whether the op's action writes parquet (corpus_curate) rather than
    * streaming rows into the fingerprinting sink. */
  def writes: Boolean = false
  /** Untimed work after the timed region: dumps for the external
    * checks, plus per-layer counts (`counts` is true in traced runs). */
  def checkPass(checkDir: String, counts: Boolean): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, data: String, seed: Long): Workload =
    name match {
      case "geo_features"  => new GeoFeatures(spark, data)
      case "corpus_curate" => new CorpusCurate(spark, data)
      case "query_mix"     => new QueryMix(spark, data, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** duckpipe's own job: a wide exposure-feature table for address points. */
final class GeoFeatures(spark: SparkSession, data: String) extends Workload {
  private def load(t: String) = spark.read.parquet(s"$data/$t.parquet")
  private val points = load("points")
  private val sites = load("sites")
  private val busStops = load("bus_stops")
  private val roads = load("roads")
  private val elevation = load("elevation")
  private val landuse = load("landuse")
  val round = Seq("geo_features")

  val bufferRadii = Seq(100.0, 300.0, 500.0)
  val ringRadii = Seq(300.0, 600.0)
  val areaRadii = Seq(100.0, 300.0)
  private def r4(r: Double) = f"${r.toInt}%04d"
  val varnames: Seq[String] =
    Seq("D_Site", "D_Bus") ++
      bufferRadii.flatMap(r => Seq("L", "LL", "LLW").map(s => s"Road_${s}_${r4(r)}")) ++
      bufferRadii.flatMap(r => (0 until 5).flatMap(c =>
        Seq(s"LS${c}_${r4(r)}_a", s"LS${c}_${r4(r)}_p"))) ++
      ("Alt_k_ref" +: ringRadii.flatMap(r =>
        Seq("above20", "below20", "above50", "below50").map(s => s"Alt_k_${s}_${r.toInt}"))) ++
      areaRadii.map(r => s"AreaX_${r4(r)}") ++
      Seq("TM_X", "TM_Y", "WGS_X", "WGS_Y")

  def build(op: String, t: Tracer): DataFrame = {
    def call(n: String)(f: => GeoCalculator) = t.span(s"api.GeoCalculator.$n")(f)
    var c = GeoCalculator(points)
    c = call("nearestDistance")(c.nearestDistance(sites, "D_Site"))
    c = call("nearestDistance")(c.nearestDistance(busStops, "D_Bus", gridCell = Some(500.0)))
    c = call("bufferLineAndLanduse")(c.bufferLineAndLanduse(roads, bufferRadii))
    c = call("relativeElevation")(c.relativeElevation(elevation, refRadius = 150.0,
      radii = ringRadii, thickness = 90.0))
    // landuse triangles span at most 300·√2 < 430 m from their anchor
    c = call("landuseAreaExact")(c.landuseAreaExact(landuse, areaRadii, maxVertexDist = 430.0))
    c = call("coordinates")(c.coordinates())
    t.span("api.GeoCalculator.resultWide")(c.resultWide(varnames))
  }
}

/** The LLM-corpus job: filter, dedup at three grains, sample, pack, write. */
final class CorpusCurate(spark: SparkSession, data: String) extends Workload {
  private val docs = spark.read.parquet(s"$data/documents.parquet")
  val round = Seq("corpus_curate")
  override def writes = true
  val ShardTokens = 5000

  val steps: Seq[(String, CorpusPipeline => CorpusPipeline)] = Seq(
    "qualityFilter" -> (_.qualityFilter()),
    "gopherFilter" -> (_.gopherFilter()),
    "dedupExact" -> (_.dedupExact),
    "dedupParagraphs" -> (_.dedupParagraphs()),
    "dedupSubstrings" -> (_.dedupSubstrings(50)),
    // md5-prefix rates: "c0"/256 keeps 75% of English, "e0" 88% of the rest
    "sampleStratified" -> (_.sampleStratified(Map("en" -> "c0"), "e0")),
    "packShards" -> (_.packShards(ShardTokens)))

  def build(op: String, t: Tracer): DataFrame =
    steps.foldLeft(CorpusPipeline(docs)) { case (p, (n, f)) =>
      t.span(s"api.CorpusPipeline.$n")(f(p))
    }.df

  override def checkPass(checkDir: String, counts: Boolean): Map[String, Double] = {
    val prefixes = steps.scanLeft(CorpusPipeline(docs)) { case (p, (_, f)) => f(p) }.tail
    val byStep = steps.map(_._1).zip(prefixes).toMap
    // the input and output of dedupExact, which DuckDB re-derives;
    // packShards is re-derived from the cold op's own output
    byStep("gopherFilter").df.select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$checkDir/after_gopher")
    byStep("dedupExact").df.select("doc_id")
      .write.mode("overwrite").parquet(s"$checkDir/after_dedup_exact")
    if (!counts) Map.empty
    else byStep.map { case (n, p) =>
      s"api.CorpusPipeline.${n}_rows_out" -> p.df.count().toDouble
    }
  }

}

/** Interactive analytics: registry queries on TPC-H-shaped tables. */
final class QueryMix(spark: SparkSession, data: String, seed: Long) extends Workload {
  private val registry = graft.SparkEntry.queries
  /** Seeded order within each pass; the data itself is fixed. */
  val round: Seq[String] = new scala.util.Random(seed).shuffle(QueryMix.queries)

  def build(op: String, t: Tracer): DataFrame =
    t.span(s"ops.$op.build")(registry(op)(spark, data))

  override def checkPass(checkDir: String, counts: Boolean): Map[String, Double] = {
    val oracle = graft.SparkEntry.oracleSql
    Main.json.writeValue(new java.io.File(s"$checkDir/oracle_sql.json"),
      QueryMix.queries.map(q => q -> oracle(q)).toMap)
    Map.empty
  }
}

object QueryMix {
  /** One pass: a top-job query, the dedup family, a top-CPU geo query
    * and a short relational query, sized to the run budget; see
    * README.md. */
  val queries: Seq[String] = Seq(
    "dedup_cluster", "dedup_ngram", "dedup_containment", "geo_bearing", "q1_agg")
}
