package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.llm.{Multimodal, Similarity}

/** Scale-up stress bench: how the registered queries' time grows when
  * their INPUT grows 1× → 10× → 100× on the same host and plan. The
  * per-query suite (graft.Bench at sf0.1) is overhead-dominated; this
  * main answers "would this survive a 100× scale-up?" with wall-clock:
  * a shuffle-bounded, interaction-free query grows ≲ linearly with the
  * factor, and anything quadratic shows up as a ≫f ratio at f=100.
  *
  * A leg is one row of [[legs]]: the registered queries it times, the
  * [[Layout]] of inflated tables they read, and the invariants read off
  * each query's own output. Per factor, each layout's directory is
  * written once, untimed, by [[InflateSf]]'s replicators, and the
  * queries run through [[SparkEntry.queries]] over it, as [[Bench]]
  * runs them over the sf directory. Only legs whose input no
  * registered query reads are functions (tx_bpe_vocab, mm_imagededup,
  * as_global, ss_bm25), plus the ann_recall and label_store sections.
  *
  * Measurement: a query is timed from building its frame (fits
  * included) through evaluating every output column
  * (`queryExecution.toRdd`, as Bench does). NEVER `count()`: Catalyst
  * prunes unreferenced window and aggregate columns under a count, and
  * this bench's first w_window leg timed a pruned 10M-row scan at
  * 0.2 s. The invariant numbers are read off the rows in that same
  * pass. Every timed run starts from the tables: the session's cached
  * plans and the directory's [[Artifacts]] entries (cached frames,
  * JVM-scoped fits) are released first, so dd7/dd8 re-run dd3's LSH
  * and the second 1× run refits x10, tx11, tx12 and tx14.
  *
  * Invariants, REQUIREd at every factor: a [[Rule]] on a [[Stat]] (the
  * row count or a column's sum or max) against its 1× value — exactly
  * ×f, constant, within a tolerance (only where a planted fixture
  * selects rows by the inflated id), or a fixed bound. A cross-replica
  * stat counts rows whose two ids name different replicas (id mod f,
  * as `id = orig·f + rep`) and must be zero.
  *
  * Methodology: factors ascend from 1 and divide 10^6 (the fixtures'
  * planted id offsets keep the replica only then); 1× runs twice
  * (warm-up, min kept), larger factors once. A leg stops at
  * `maxFactor` only where its query's own fixture grows faster than the
  * data (BASELINE.md "Scale-up stress" gives each reason). One JSON
  * object to `SPARK_GRAFT_SCALEBENCH_OUT` (default `bench_scale.json`).
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_FACTORS (default "1,10,100"), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SCALE_LEGS (leg names, comma-separated; the sections
  * answer to ann_recall and label_store).
  */
object BenchScale {

  /** A named set of tables of the sf directory, each grown by its
    * replicator; written once per factor. */
  final case class Layout(name: String, tables: Seq[(String, InflateSf.Replicator)])

  /** A number read off a query's output rows. Columns are int or long;
    * null values are skipped. */
  sealed trait Stat { def label: String }
  case object Rows extends Stat { def label = "rows" }
  final case class Sum(column: String) extends Stat { def label = s"sum($column)" }
  final case class Max(column: String) extends Stat { def label = s"max($column)" }
  /** Rows whose ids `a` and `b` lie in different replicas. */
  final case class CrossReplica(a: String, b: String) extends Stat {
    def label = s"cross($a,$b)"
  }

  /** How a stat may move from its 1× value `b` at factor f. */
  sealed trait Rule
  /** Exactly b·f. */
  case object Linear extends Rule
  /** Exactly b. */
  case object Constant extends Rule
  /** Within tol·b·f of b·f. */
  final case class Near(tol: Double) extends Rule
  final case class AtMost(n: Long) extends Rule
  final case class Exactly(n: Long) extends Rule

  final case class Check(stat: Stat, rule: Rule)

  /** One timed unit of a leg: the registered query `name`, or, given
    * `fn`, a function leg's body (session, data dir, factor) => rows.
    * `setup` runs untimed before each timed run. */
  final case class Run(name: String, checks: Seq[Check],
                       fn: Option[(SparkSession, String, Int) => Long] = None,
                       setup: () => Unit = () => ())

  final case class Leg(name: String, layout: Option[Layout], runs: Seq[Run],
                       maxFactor: Int = Int.MaxValue, growPartitions: Boolean = false)

  private val Dims = Seq("customer", "nation", "supplier").map(_ -> InflateSf.copy)
  private val Events = Layout("events", ("events" -> InflateSf.inflateEvents _) +: Dims)
  private val EventsUsers = Layout("events_users", Seq("events" -> InflateSf.inflateEventsUsers _))
  private val Documents = Layout("documents", Seq("documents" -> InflateSf.inflateDocuments _))
  // a two-token boilerplate suffix planted before inflation: each
  // replica carries a bigram present in every one of its documents
  // (df = docs per replica), the worst case a footer creates in a crawl
  private val HotSuffix = " zzhota zzhotb"
  private val DocumentsHot = Layout("documents_hot", Seq("documents" -> ((d: DataFrame, f: Int) =>
    InflateSf.inflateDocuments(d.withColumn("text", concat(col("text"), lit(HotSuffix))), f))))
  // planted after inflation: ONE un-prefixed bigram in every document of
  // every replica (df = the whole corpus), the single-key pathology
  private val DocumentsHotGlobal = Layout("documents_hot_global",
    Seq("documents" -> ((d: DataFrame, f: Int) =>
      InflateSf.inflateDocuments(d, f).withColumn("text", concat(col("text"), lit(HotSuffix))))))
  private val Embeddings = Layout("embeddings", Seq("embeddings" -> InflateSf.inflateEmbeddings _))
  private val EmbeddingsCells =
    Layout("embeddings_cells", Seq("embeddings" -> InflateSf.inflateEmbeddingsCells _))

  private def q(name: String, rows: Rule, more: (Stat, Rule)*): Run =
    Run(name, ((Rows: Stat, rows) +: more).map { case (s, r) => Check(s, r) })
  private def fnRun(name: String, rows: Rule, setup: () => Unit = () => ())(
      body: (SparkSession, String, Int) => Long): Run =
    Run(name, Seq(Check(Rows, rows)), Some(body), setup)

  /** The leg table. Rules follow from the construction:
    *  - event and document rows replicate exactly, so row-per-event and
    *    row-per-document outputs are Linear and dimension-grained ones
    *    (stations, districts, languages, models) Constant;
    *  - the planted corpus (every 50th doc replayed at id + 1M) selects
    *    by the INFLATED id, so each replica plants a different doc set.
    *    Planted and natural pairs still never span replicas, but counts
    *    touching a plant are approximate: dd1 ±2% (its 100·f plants are
    *    2% of 5,084·f texts), the LSH/prefix pair and group counts ±5%,
    *    dd11 ±5% (200·f planted matches are exact; the ~10% natural
    *    ones follow the sample), and dd9 ±55%: its benchmark is the
    *    doc_id % 37 slice, a different 1/37 sample per replica, so the
    *    flagged count is a sum of per-replica samples whose 1× value
    *    (14) carries two Poisson standard deviations of ±53%;
    *  - two queries' own fixtures grow faster than the data, so their
    *    legs stop at 10×: ss1 takes every 100th vector as a query (work
    *    f²), and dd10 assigns every vector to the nearest of its label
    *    centroids, whose number grows with the corpus (work f²). */
  def legs(session: SparkSession, sfDir: String): Seq[Leg] = {
    val pairs = CrossReplica("doc_a", "doc_b") -> Exactly(0)
    val dd12 = Seq(q("dd12_prefix_filter_join", Near(0.05), pairs))
    val bpe = new BpeVocab(session, sfDir)
    Seq(
      Leg("w_window", Some(Events), Seq(q("w1_lag_rate", Linear), q("w3_ffill_bfill", Linear))),
      Leg("j_hourly", Some(Events), Seq(q("j2_hourly_weather_join", Linear))),
      Leg("a_pivot", Some(Events), Seq(q("a3_pivot_station_hour", Constant))),
      Leg("a_median", Some(Events), Seq(q("a1_descriptive_stats", Constant))),
      Leg("x_gram", Some(Events),
        Seq(q("x10_ols_ladder", Constant), q("x17_ols_inference", Constant))),
      Leg("x_ranktest", Some(Events),
        Seq(q("x18_mannwhitney", Constant), q("x19_kruskal_wallis", Constant))),
      Leg("a_funnel", Some(EventsUsers), Seq(q("a12_funnel", Constant,
        Seq("n_users", "n_click", "n_view_after_click", "n_purchase_after_view")
          .map(c => (Sum(c): Stat) -> (Linear: Rule)): _*))),
      Leg("w_sessionize", Some(EventsUsers), Seq(q("w7_sessionize", Linear))),
      Leg("dd_exact", Some(Documents), Seq(q("dd1_exact_dedup", Near(0.02)))),
      Leg("dd_lsh", Some(Documents), Seq(q("dd3_lsh_near_dup", Near(0.05), pairs))),
      Leg("dd_groups", Some(Documents), Seq(q("dd7_dup_groups", Near(0.05),
        CrossReplica("doc", "group_id") -> Exactly(0)))),
      Leg("dd_star", Some(Documents), Seq(q("dd8_dup_groups_star", Near(0.05),
        CrossReplica("doc", "group_id") -> Exactly(0)))),
      Leg("dd_contam", Some(Documents), Seq(q("dd9_contamination", Near(0.55)))),
      Leg("dd_incr", Some(Documents), Seq(q("dd11_incremental_dedup", Near(0.05),
        CrossReplica("new_doc", "matched_doc") -> Exactly(0)))),
      Leg("dd_prefix", Some(Documents), dd12, growPartitions = true),
      Leg("dd_prefix_hot", Some(DocumentsHot), dd12, growPartitions = true),
      Leg("dd_prefix_hot_global", Some(DocumentsHotGlobal), dd12, growPartitions = true),
      Leg("dd_semantic", Some(EmbeddingsCells), Seq(q("dd10_semantic_dedup", Linear,
        CrossReplica("vec_id", "dup_of") -> Exactly(0))), maxFactor = 10),
      Leg("tx_quality", Some(Documents), Seq(q("tx1_token_stats", Linear),
        q("tx2_quality_langid", Linear), q("tx3_fingerprint", Linear))),
      Leg("tx_linededup", Some(Documents), Seq(q("tx9_line_dedup", Linear))),
      Leg("tx_substr", Some(Documents), Seq(q("tx16_substring_dedup", Linear))),
      Leg("tx_dsir", Some(Documents), Seq(q("tx10_importance_weights", Linear))),
      Leg("tx_bpe", Some(Documents), Seq(q("tx11_bpe_tokenize", Linear))),
      Leg("tx_lm", Some(Documents), Seq(q("tx12_lm_perplexity", Linear))),
      Leg("x_logit", Some(Documents), Seq(q("tx14_quality_classifier", Linear))),
      Leg("sk_sketch", Some(Documents), Seq(
        q("sk1_kmv_distinct", Constant, Max("sk_size") -> AtMost(64)),
        q("sk3_hll_distinct", Constant, Max("m_registers") -> Exactly(256)))),
      Leg("ss_brute", Some(Embeddings), Seq(q("ss1_cosine_topk", Linear)), maxFactor = 10),
      Leg("tx_bpe_vocab", None,
        Seq(fnRun("tx_bpe_vocab", Constant, bpe.prepare _)((_, _, f) => bpe.run(f)))),
      Leg("mm_imagededup", None,
        Seq(fnRun("mm_imagededup", Linear)((s, _, f) => mmImageDedup(s, f)))),
      Leg("as_global", Some(Events),
        Seq(fnRun("as_global", Linear)((s, d, f) => asGlobal(Tables.events(s, d), f)))),
      Leg("ss_bm25", Some(Documents), Seq(fnRun("ss_bm25", Constant)((s, d, f) =>
        ssBm25(Tables.documents(s, d).select("doc_id", "text"), f)))))
  }

  /** Why a stat's value `n` at factor f breaks `rule`, given its 1× value `b`. */
  def violation(rule: Rule, n: Long, b: Long, f: Int): Option[String] = rule match {
    case Linear => Option.when(n != b * f)(s"expected exactly ${b * f}")
    case Constant => Option.when(n != b)(s"expected constant $b")
    case Near(tol) => Option.when(math.abs(n - b.toDouble * f) > tol * b * f)(
      s"expected ${b * f} ± ${tol * 100}%")
    case AtMost(k) => Option.when(n > k)(s"expected at most $k")
    case Exactly(k) => Option.when(n != k)(s"expected $k")
  }

  /** A [[Stat]] bound to the ordinals and types of its columns. */
  private final case class Bound(stat: Stat, cols: Seq[(Int, DataType)]) {
    def zero: Long = stat match { case _: Max => Long.MinValue; case _ => 0L }
    def merge(a: Long, b: Long): Long = if (stat.isInstanceOf[Max]) math.max(a, b) else a + b
    private def value(r: InternalRow, i: Int): Long =
      r.get(cols(i)._1, cols(i)._2).asInstanceOf[Number].longValue
    def of(r: InternalRow, f: Int): Long =
      if (cols.exists(c => r.isNullAt(c._1))) zero
      else stat match {
        case Rows => 1L
        case _: Sum | _: Max => value(r, 0)
        case _: CrossReplica =>
          if (Math.floorMod(value(r, 0), f) != Math.floorMod(value(r, 1), f)) 1L else 0L
      }
  }

  /** Evaluates `df`'s own physical plan with every output column
    * computed (`queryExecution.toRdd`, rows left on the executors) and
    * reads `stats` off its rows in the same pass. */
  def read(df: DataFrame, stats: Seq[Stat], f: Int): Seq[Long] = {
    val schema = df.schema
    val bound = stats.map { s =>
      val cols = s match {
        case Rows => Nil
        case Sum(c) => Seq(c)
        case Max(c) => Seq(c)
        case CrossReplica(a, b) => Seq(a, b)
      }
      Bound(s, cols.map { c => val i = schema.fieldIndex(c); (i, schema(i).dataType) })
    }
    val zero = bound.map(_.zero)
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      bound.indices.map(i => bound(i).merge(a(i), b(i)))
    df.queryExecution.toRdd.mapPartitions { rows =>
      val acc = zero.toArray
      rows.foreach(r => bound.indices.foreach(i =>
        acc(i) = bound(i).merge(acc(i), bound(i).of(r, f))))
      Iterator(acc.toSeq)
    }.collect().foldLeft(zero)(merge)
  }

  /** Releases every [[Artifacts]] entry of `dirs` (frames, fits, scratch
    * trees), and same-named entries elsewhere: Artifacts drops by name. */
  private def release(dirs: Set[String]): Unit =
    Artifacts.drop(Artifacts.keys.collect { case (_, d, name) if dirs(d) => name }.distinct: _*)

  /** One timed run of `run` over `dir` at factor f, from the tables:
    * (seconds, one value per check). */
  private def timed(session: SparkSession, run: Run, dir: String, f: Int): (Double, Seq[Long]) = {
    session.catalog.clearCache() // start from the tables: no cached plan,
    release(Set(dir)) // no frame or fit an earlier run built
    run.setup()
    val t0 = System.nanoTime()
    val vals = run.fn match {
      case Some(body) => Seq(body(session, dir, f))
      case None => read(SparkEntry.queries(run.name)(session, dir), run.checks.map(_.stat), f)
    }
    ((System.nanoTime() - t0) / 1e9, vals)
  }

  /** Seconds and check values of one run, by factor. */
  final class Record {
    val sec = mutable.LinkedHashMap[Int, Double]()
    val vals = mutable.LinkedHashMap[Int, Seq[Long]]()
  }

  /** Runs every leg at every factor up to its `maxFactor`, checking each
    * invariant as it is read; keyed by (leg, run). Each layout's
    * directory is written once per factor; it and its [[Artifacts]]
    * entries are released after the factor. A factor's queries run in
    * child sessions of `session`, with its shuffle partitions, except
    * the `growPartitions` legs (dd12's), which run at f × them, at most
    * 512, as the retired dd_prefix legs sized their collision join: at
    * a fixed count its hash build side grows ×f per task. */
  def measure(session: SparkSession, sfDir: String, factors: Seq[Int],
              legs: Seq[Leg]): Map[(String, String), Record] = {
    require(factors.headOption.contains(1) && factors == factors.sorted,
      s"factors must ascend from 1 (the baseline): $factors")
    require(factors.forall(1000000 % _ == 0),
      s"every factor must divide 10^6 (the planted id offsets keep the replica only then): $factors")
    val recs = mutable.LinkedHashMap[(String, String), Record]()
    val partitions = session.conf.get("spark.sql.shuffle.partitions").toInt
    for (f <- factors) {
      val plain = session.newSession()
      val grown = session.newSession()
      grown.conf.set("spark.sql.shuffle.partitions", math.min(512, partitions * f).toString)
      val dirs = mutable.LinkedHashMap[Layout, Path]()
      def dirOf(l: Layout): String = dirs.getOrElseUpdate(l, {
        val p = Files.createTempDirectory(s"graft-scale-${l.name}-$f")
        InflateSf.write(session, sfDir, p, f, l.tables)
        p
      }).toString
      try for (leg <- legs if f <= leg.maxFactor; run <- leg.runs) {
        val dir = leg.layout.fold("")(dirOf)
        def once() = timed(if (leg.growPartitions) grown else plain, run, dir, f)
        val (t, vals) =
          if (f == 1) {
            val (t1, v1) = once(); val (t2, v2) = once()
            require(v1 == v2, s"${leg.name}/${run.name} 1×: unstable across runs ($v1 vs $v2)")
            (math.min(t1, t2), v2)
          } else once()
        val rec = recs.getOrElseUpdate((leg.name, run.name), new Record)
        val base = rec.vals.getOrElse(1, vals)
        for (((c, n), b) <- run.checks.zip(vals).zip(base); why <- violation(c.rule, n, b, f))
          throw new IllegalStateException(
            s"${leg.name}/${run.name} at $f×: ${c.stat.label} = $n, $why")
        rec.sec(f) = t
        rec.vals(f) = vals
        System.err.println(f"[scalebench] ${leg.name}%-20s ${run.name}%-26s $f%3d×  $t%8.2f s  " +
          run.checks.zip(vals).map { case (c, n) => s"${c.stat.label}=$n" }.mkString(" "))
      } finally {
        release(dirs.values.map(_.toString).toSet)
        dirs.values.foreach(LocalRun.deleteRecursively)
      }
    }
    recs.toMap
  }

  private def fmt(d: Double): String =
    java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP).toPlainString

  /** tx_bpe_vocab's fixtures: the real corpus has ~31 distinct words, so
    * merge learning exhausts at ~90 rules — far too shallow to stress a
    * production-depth vocabulary. Each document is re-expressed as 40
    * nine-hex-char pseudo-words derived from its doc_id (the byte-level
    * BPE regime: a 16-symbol alphabet with uniform digram statistics,
    * where merges go thousands deep and every one of them applies to
    * the corpus). The leg reuses the factor as the MERGE-COUNT
    * multiplier (20·f = 20 → 200 → 2000 rules) on this FIXED corpus:
    * rows stay constant, and the time ratio is the flat-per-row-cost
    * claim of llm/BpeKernel — a replace chain is O(#merges) per row, so
    * its ratio at 100× would be ~100, while the kernel's merge events
    * are bounded by document length however deep the vocabulary. */
  private final class BpeVocab(session: SparkSession, sfDir: String) {
    private lazy val corpus: DataFrame = Tables.documents(session, sfDir).select(col("doc_id"),
      array_join(transform(sequence(lit(1), lit(40)), i =>
        substring(md5(concat(col("doc_id").cast("string"), lit("_"), i.cast("string"))),
          1, 9)), " ").as("text"))
    private lazy val ladder: Seq[graft.llm.Bpe.Merge] = {
      val hist = corpus
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w")).limit(6000)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val t0 = System.nanoTime()
      val m = graft.llm.Bpe.learn(hist, 2000)
      System.err.println(f"[scalebench] tx_bpe_vocab ladder: ${m.size} merges " +
        f"learned in ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
      m
    }

    /** Untimed: the corpus cached and materialized, the ladder learned. */
    def prepare(): Unit = {
      Tables.cacheOnce(corpus)
      corpus.count()
      ladder
    }

    def run(f: Int): Long = {
      val m = ladder.take(20 * f)
      require(m.size == 20 * f,
        s"tx_bpe_vocab at $f×: ladder exhausted at ${m.size} merges (need ${20 * f})")
      val toked = graft.functions.BpeTokenize.tokenize(col("text"), m)
      corpus.select(graft.llm.Bpe.tokenCount(toked).as("nt"))
        .agg(count(lit(1)), sum("nt")).head().getLong(0)
    }
  }

  /** mm9's dedup topology at ×f (mm9 itself hashes a fixed image set
    * and reads no table): formula pixels computed in executors, dHash
    * packing, 4×16-bit banded self-join, hamming verify. Replicas get
    * distinct gradient families (a rep-dependent pixel term); the
    * planted 10 one-pixel near-dups + 5 exact copies per replica are
    * the rows, and banding cannot miss them (hamming ≤ 1 ⇒ ≥ 3 of 4
    * bands equal). */
  private def mmImageDedup(session: SparkSession, f: Int): Long = {
    val n = 95
    val m = session.range(f.toLong * n).select(
        (col("id") % n).as("slot"),
        // Column `/` is fractional — floor to the replica index
        floor(col("id") / n).cast("long").as("rep"))
      .withColumn("lid",
        when(col("slot") < 80, col("slot") + 1)
          .when(col("slot") < 90, lit(100) + (col("slot") - 79))
          .otherwise(lit(120) + (col("slot") - 89)))
      .withColumn("src",
        when(col("lid") <= 80, col("lid"))
          .when(col("lid") <= 120, (col("lid") - 100) * 8)
          .otherwise(col("lid") - 120))
      .withColumn("pert", col("lid").between(101, 110))
      .withColumn("doc_id", col("rep") * 1000 + col("lid"))
    val px = m.withColumn("pixels",
      transform(sequence(lit(0), lit(287)), i => {
        val x = i % 18
        val y = floor(i / 18).cast("int")
        val base = (lit(3) * (col("src") % 7 + 1) * x +
          lit(5) * (col("src") % 11 + 1) * y + col("src") +
          lit(17) * col("rep") * (x + y + 1)) % 256
        when(col("pert") && i === 0, (base + 1) % 256).otherwise(base)
      }))
    val (lo, hi) = Multimodal.dhashHalves(col("pixels"))
    val hashes = px.select(col("doc_id"), lo.as("h_lo"), hi.as("h_hi"))
    val bands = hashes.select(col("doc_id"), col("h_lo"), col("h_hi"),
        explode(array(
          struct(lit(0).as("band"),
            col("h_lo").bitwiseAND(lit(65535L)).as("band_val")),
          struct(lit(1).as("band"),
            shiftright(col("h_lo"), 16).bitwiseAND(lit(65535L)).as("band_val")),
          struct(lit(2).as("band"),
            col("h_hi").bitwiseAND(lit(65535L)).as("band_val")),
          struct(lit(3).as("band"),
            shiftright(col("h_hi"), 16).bitwiseAND(lit(65535L)).as("band_val"))))
          .as("bk"))
      .select(col("doc_id"), col("h_lo"), col("h_hi"),
        col("bk.band").as("band"), col("bk.band_val").as("band_val"))
    val a = bands.select(col("band"), col("band_val"),
      col("doc_id").as("doc_a"), col("h_lo").as("lo_a"), col("h_hi").as("hi_a"))
    val b = bands.select(col("band"), col("band_val"),
      col("doc_id").as("doc_b"), col("h_lo").as("lo_b"), col("h_hi").as("hi_b"))
    val pairs = a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "lo_a", "hi_a", "lo_b", "hi_b")
      .dropDuplicates("doc_a", "doc_b")
      .filter(bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
        bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) <= 6)
    // expected planted pairs per replica: (8j, 100+j) j=1..10 and
    // (j, 120+j) j=1..5, both lifted by rep*1000
    val planted = m.filter(col("lid") > 100).select(
      (col("rep") * 1000 + col("src")).as("doc_a"),
      col("doc_id").as("doc_b"))
    pairs.join(planted.hint("shuffle_hash"), Seq("doc_a", "doc_b"))
      .count()
  }

  /** ss4's BM25 core with a replica-0 query (ss4's own literal terms
    * match no `r{rep}_` token): the hit set stays replica-0-sized while
    * the scanned token stream grows ×f, so the leg prices the
    * pre-shuffle filter. Returns the hit count (constant). */
  private def ssBm25(docs: DataFrame, f: Int): Long = {
    val terms = Seq("r0_hash", "r0_join", "r0_dup")
    // cache: the timed pipeline must run ONCE — the stat row and the
    // cross-replica check below are two actions over the same 10 rows
    val hits = graft.llm.Search
      .bm25TopK(docs, "doc_id", "text", terms, k = 10).cache()
    try {
      val r = hits.agg(count(lit(1)), sum("score"), sum("n_terms_matched")).head()
      // every hit must come from replica 0 — a prefixed token matching a
      // foreign replica's query would be a tokenizer interaction
      val foreign = hits.filter(pmod(col("doc_id"), lit(f)) =!= 0).count()
      require(foreign == 0L, s"ss_bm25 at $f×: $foreign non-replica-0 hits")
      r.getLong(0)
    } finally hits.unpersist(blocking = false)
  }

  /** j9's keyless as-of FORCED onto the range-partitioned arm
    * (maxBroadcastRows = 0) over a SKEWED time axis — 75% of events in
    * a 50k-tick head, the rest over a 100×-wider tail. Checked inside:
    * output ≡ the broadcast arm (exact long checksums) and per-bucket
    * row spread ≤ 1.5 (ops/AsOf.scala's balance claim); one output row
    * per event. */
  private def asGlobal(ev: DataFrame, f: Int): Long = {
    val buckets = 32
    val l = ev.select(col("event_id"),
      when(col("event_id") % 4 < 3, pmod(col("event_id"), lit(50000L)))
        .otherwise(lit(5000000L) + col("event_id")).as("t"),
      col("event_id").as("v"))
    val r = l.filter(col("event_id") % 37 === 0)
      .groupBy("t").agg(sum("v").as("cpv")) // unique times by construction
    def run(maxBroadcastRows: Long): org.apache.spark.sql.Row =
      graft.ops.AsOf.asofBackwardGlobal(l, r, "t", "t", Seq("cpv"),
          buckets = buckets, maxBroadcastRows = maxBroadcastRows)
        .agg(count(lit(1)), count(col("asof_cpv")), sum(col("asof_cpv")))
        .head()
    val part = run(0L) // the arm under test
    val bcast = run(10000000L) // the oracle arm (right side fits at any f here)
    require(part == bcast, s"as_global at $f×: partitioned $part != broadcast $bcast")
    // the balance claim, measured: the same approx-quantile recipe the
    // operator uses must spread the skewed axis ~evenly over the buckets
    val union = l.select("t").unionByName(r.select("t"))
    val cuts = union.select(col("t").cast("double").as("td"))
      .stat.approxQuantile("td",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      .distinct.sorted
    val bucketOf = cuts.zipWithIndex
      .foldRight(lit(cuts.length): org.apache.spark.sql.Column) {
        case ((c, i), rest) => when(col("t").cast("double") < c, i).otherwise(rest)
      }
    val perBucket = union.groupBy(bucketOf.as("b")).agg(count(lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0))
    val spread = perBucket.max.toDouble / (perBucket.sum.toDouble / perBucket.length)
    require(spread <= 1.5,
      f"as_global at $f×: bucket spread $spread%.2f exceeds 1.5 " +
        s"(per-bucket ${perBucket.mkString(",")})")
    part.getLong(0)
  }

  /** ×f embeddings, each replica's direction jittered by ~0.1-relative
    * per-component sinusoidal noise. EXACT-copy replicas would make ANN
    * trivial (the query's bucket full of cos=1 copies pins recall at 1.0);
    * jittered, the true top-10 are tight-but-distinct angular
    * neighbors, the regime where probe budget buys recall. */
  private def jittered(emb: DataFrame, f: Int): DataFrame =
    InflateSf.inflateEmbeddings(emb, f)
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.1) *
          sin((pmod(col("vec_id"), lit(f)) * 64 + i + 1).cast("double")))).cast("float")))

  private def parquetBytes(p: java.io.File): Long =
    if (p.isDirectory) p.listFiles().map(parquetBytes).sum
    else if (p.getName.endsWith(".parquet")) p.length else 0L

  // ---- ANN recall-vs-cost curve: ss2/ss3's recall contracts are
  // asserted at fixture scale; here the accuracy-cost trade is MEASURED
  // on the max-factor corpus — recall@10 against the brute-force ground
  // truth as the probe budget grows (IVF probed cells / LSH tables).
  private def annRecallJson(session: SparkSession, sfDir: String, factors: Seq[Int]): String = {
    val embeddingsL = Tables.embeddings(session, sfDir).select("vec_id", "embedding", "label")
    // fixed 25-query probe set, independent of the corpus factor
    val queries25 = embeddingsL.filter(col("vec_id") < 25)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .cache()
    require(queries25.count() == 25, "expected vec_id 0..24 in embeddings")
    val maxF = factors.max
    val annK = 10
    val corpusL = jittered(embeddingsL, maxF).cache()
    corpusL.count()
    val truth: Map[Long, Set[Long]] = Similarity
      .bruteForceTopK(corpusL, "vec_id", "embedding",
        queries25, "q_id", "q_vec", annK)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    def timedRecall(build: => DataFrame): (Double, Double) = {
      val t0 = System.nanoTime()
      val got = build.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      val sec = (System.nanoTime() - t0) / 1e9
      val rs = truth.toSeq.map { case (q, ts) =>
        got.getOrElse(q, Set.empty).intersect(ts).size.toDouble / ts.size
      }
      (sec, rs.sum / rs.size)
    }
    // IVF side: label-mean centroids (the dd10/ss2 shape), then the
    // probe budget sweeps 1 -> all cells
    val centroids = corpusL.groupBy(col("label").as("cell"))
      .agg(array((0 until 64).map(i =>
        avg(element_at(col("embedding"), i + 1))): _*).as("cent_vec"))
    val assigned = Similarity.assignCells(
      corpusL.select("vec_id", "embedding"),
      "vec_id", "embedding", centroids, "cell", "cent_vec").cache()
    assigned.count()
    val nCells = centroids.count().toInt
    val ivfEntries = Seq(1, 2, 4, 8).filter(_ <= nCells).map { nProbe =>
      val (sec, rec) = timedRecall(Similarity.ivfTopK(
        assigned, "vec_id", "embedding", "cell",
        centroids, "cent_vec", queries25, "q_id", "q_vec", nProbe, annK))
      System.err.println(f"[scalebench] ann_recall ivf nProbe=$nProbe%-2d " +
        f"recall=$rec%.3f  $sec%6.2f s")
      s""""nprobe_$nProbe":{"sec":${fmt(sec)},"recall":${fmt(rec)}}"""
    }
    val lshEntries = Seq(1, 2, 4, 8).map { tables =>
      val (sec, rec) = timedRecall(Similarity.hyperplaneTopK(
        corpusL.select("vec_id", "embedding"), "vec_id", "embedding",
        queries25, "q_id", "q_vec", dim = 64, tables = tables, bits = 10,
        k = annK))
      System.err.println(f"[scalebench] ann_recall lsh tables=$tables%-2d " +
        f"recall=$rec%.3f  $sec%6.2f s")
      s""""tables_$tables":{"sec":${fmt(sec)},"recall":${fmt(rec)}}"""
    }
    // PQ side: recall vs codebook size at a fixed probe budget (ss5's
    // accuracy-compression trade): train (bounded 1024-sample Lloyd),
    // encode once per ks, then pure ADC top-k (recall ≈ k/|tie class|
    // BY DESIGN — jittered replicas sit below quantization resolution)
    // and the FAISS refine (ADC shortlist of 20·k, exact re-rank).
    val pqEntries = Seq(16, 64, 256).map { ks =>
      import session.implicits._
      val t0 = System.nanoTime()
      val cbDf = Similarity.pqTrainCodebooks(corpusL, "vec_id",
          "embedding", m = 8, subDim = 8, ks = ks, sampleN = 1024)
        .map { case (m0, cid, v) => (m0, cid, v.toSeq) }
        .toDF("pq_m", "pq_cid", "pq_vec")
      val codes = Similarity.pqEncode(assigned, "vec_id", "embedding",
        cbDf, m = 8, subDim = 8, carry = Seq("cell")).cache()
      codes.count()
      val trainSec = (System.nanoTime() - t0) / 1e9
      def adcShortlist(kk: Int) = Similarity.ivfPqTopK(
        codes, "vec_id", "cell", cbDf, centroids, "cent_vec",
        queries25, "q_id", "q_vec", m = 8, subDim = 8,
        nProbe = 4, k = kk)
      val (sec, rec) = timedRecall(adcShortlist(annK))
      val (rsec, rrec) = timedRecall(Similarity.pqRefineTopK(
        adcShortlist(20 * annK), corpusL, "vec_id", "embedding",
        queries25, "q_id", "q_vec", annK))
      codes.unpersist(blocking = false)
      System.err.println(f"[scalebench] ann_recall pq ks=$ks%-3d " +
        f"adc=$rec%.3f ($sec%5.2f s)  refined=$rrec%.3f ($rsec%5.2f s)" +
        f"  train+encode $trainSec%.2f s")
      s""""ks_$ks":{"train_sec":${fmt(trainSec)},"sec":${fmt(sec)},"recall":${fmt(rec)},""" +
        s""""refined_sec":${fmt(rsec)},"refined_recall":${fmt(rrec)}}"""
    }
    // int8 arm (ss6 storage composed into candidate generation, ss7).
    // The 100 TB claim is SCAN VOLUME: both scan inputs are written as
    // parquet on the max-factor corpus and their byte sizes recorded;
    // the timings run on the cached frames. Refined recall (a 4k-deep
    // shortlist re-scored with true cosine) must match the exact scan's.
    val int8Json: String = {
      val i8Shortlist = 4 * annK
      val qTable = corpusL
        .withColumn("s", Similarity.int8Scale(col("embedding")).cast("float"))
        .withColumn("q8",
          Similarity.int8Quantize(col("embedding"), col("s")))
        .select("vec_id", "s", "q8")
      val dir = java.nio.file.Files.createTempDirectory("graft-ann-int8")
      def bytesOf(df: DataFrame, name: String): Long = {
        val p = dir.resolve(name)
        df.write.mode("overwrite").parquet(p.toString)
        p.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.length).sum
      }
      val f32B = bytesOf(corpusL.select("vec_id", "embedding"), "f32")
      val i8B = bytesOf(qTable, "i8")
      graft.LocalRun.deleteRecursively(dir)
      val (bsec, _) = timedRecall(Similarity.bruteForceTopK(
        corpusL, "vec_id", "embedding", queries25, "q_id", "q_vec", annK))
      val qCorpus = corpusL.select(col("vec_id"),
        Similarity.int8AsDouble(Similarity.int8Quantize(col("embedding"),
          Similarity.int8Scale(col("embedding")))).as("qv"))
      val qQueries = queries25.select(col("q_id"),
        Similarity.int8AsDouble(Similarity.int8Quantize(col("q_vec"),
          Similarity.int8Scale(col("q_vec")))).as("q_qv"))
      val (qsec, qrec) = timedRecall(Similarity.bruteForceTopK(
        qCorpus, "vec_id", "qv", qQueries, "q_id", "q_qv", annK))
      val (rsec, rrec) = timedRecall(Similarity.int8RefineTopK(
        corpusL.select("vec_id", "embedding"), "vec_id", "embedding",
        queries25, "q_id", "q_vec", shortlist = i8Shortlist, k = annK))
      // ss8: the two scan-volume levers COMPOSED — ivf cell pruning
      // (nProbe=4 of nCells) × int8 bytes within the probed cells.
      // Recall is judged against the same brute-force truth.
      val (csec, crec) = timedRecall(Similarity.ivfInt8RefineTopK(
        assigned, "vec_id", "embedding", "cell", centroids, "cent_vec",
        queries25, "q_id", "q_vec", nProbe = 4,
        shortlist = i8Shortlist, k = annK))
      System.err.println(f"[scalebench] ann_recall int8 bytes " +
        f"${i8B.toDouble / f32B}%.3f of f32  brute $bsec%5.2f s  " +
        f"coarse recall=$qrec%.3f ($qsec%5.2f s)  " +
        f"refined recall=$rrec%.3f ($rsec%5.2f s)  " +
        f"ivf+int8 recall=$crec%.3f ($csec%5.2f s)")
      // the shortlist is PLANNED: the true-neighbor quantized-rank CDF
      // of a bounded md5 sample of the QUERY WORKLOAD gives the
      // 0.95-target depth; the sweep puts actual refined recall at
      // shortlist ∈ {10,20,40,80} next to the plan's CDF prediction.
      val planSampleN = 12 // one source of truth: both CDFs + the JSON
      val planRanks = Similarity.int8TrueNeighborRanks(
        corpusL, "vec_id", "embedding",
        queries25, "q_id", "q_vec", annK, sampleN = planSampleN)
      val planned = Similarity.int8ShortlistFor(planRanks, annK, 0.95)
      // the negative control, kept: planning on md5-sampled CORPUS ROWS
      // under-plans ~4× here (workload queries sit at replica-cluster
      // centroids, corpus rows are jittered replicas with wider gaps).
      val corpusRowRanks = Similarity.int8TrueNeighborRanks(
        corpusL, "vec_id", "embedding",
        corpusL.select(col("vec_id").as("q_id"),
          col("embedding").as("q_vec")), "q_id", "q_vec",
        annK, sampleN = planSampleN)
      val corpusPlanned = Similarity.int8ShortlistFor(corpusRowRanks, annK, 0.95)
      System.err.println(f"[scalebench] ann_recall int8 plan: " +
        f"${planRanks.length} workload-sampled true-neighbor ranks, " +
        f"planned shortlist (target 0.95) = $planned " +
        f"(corpus-row sampling would say $corpusPlanned)")
      val sweepEntries = Seq(10, 20, 40, 80).map { sl =>
        val (ssec, srec) = timedRecall(Similarity.int8RefineTopK(
          corpusL.select("vec_id", "embedding"), "vec_id", "embedding",
          queries25, "q_id", "q_vec", shortlist = sl, k = annK))
        val cdf = Similarity.int8CoarseRecallAt(planRanks, sl)
        val ccdf = Similarity.int8CoarseRecallAt(corpusRowRanks, sl)
        System.err.println(f"[scalebench] ann_recall int8 shortlist=$sl%-3d " +
          f"refined recall=$srec%.3f ($ssec%5.2f s)  plan CDF=$cdf%.3f " +
          f"corpus-row CDF=$ccdf%.3f")
        s""""sl_$sl":{"sec":${fmt(ssec)},"recall":${fmt(srec)},""" +
          s""""plan_cdf":${fmt(cdf)},"corpus_row_cdf":${fmt(ccdf)}}"""
      }
      s""""int8":{"f32_bytes":$f32B,"i8_bytes":$i8B,""" +
        s""""bytes_ratio":${fmt(i8B.toDouble / f32B)},""" +
        s""""brute_sec":${fmt(bsec)},"shortlist":$i8Shortlist,""" +
        s""""coarse":{"sec":${fmt(qsec)},"recall":${fmt(qrec)}},""" +
        s""""refined":{"sec":${fmt(rsec)},"recall":${fmt(rrec)}},""" +
        s""""ivf_int8":{"nprobe":4,"sec":${fmt(csec)},"recall":${fmt(crec)}},""" +
        s""""plan":{"sample_queries":$planSampleN,"target":0.95,""" +
        s""""planned_shortlist":$planned,""" +
        s""""corpus_row_shortlist":$corpusPlanned},""" +
        s""""sweep":{${sweepEntries.mkString(",")}}}"""
    }
    // stored-serving arm (ss10's shape) AT EVERY FACTOR: write the
    // cell-partitioned int8 index once, untimed, then time a
    // single-query SERVE (probe ranking + static cell prune + coarse
    // int8 scan + float refine) and record what the coarse scan LISTED.
    // Cells are replica-aware (label·f + rep), so nCells grows ×f while
    // cell size stays constant: the serve must list exactly nProbe
    // partitions at every factor (REQUIREd), its bytes ~constant.
    val storedJson: String = {
      val storedNProbe = 4
      val oneQ = queries25.filter(col("q_id") === 0)
      val entries = factors.map { f =>
        // cached: three setup consumers read it (centroid agg,
        // partitioned write, floats cache)
        val corpusF = jittered(embeddingsL, f)
          .withColumn("cell",
            col("label") * f + pmod(col("vec_id"), lit(f)))
          .cache()
        val dir = java.nio.file.Files.createTempDirectory(s"graft-ann-stored-$f")
        var cents: org.apache.spark.sql.DataFrame = null // freed in the finally
        var floats: org.apache.spark.sql.DataFrame = null
        try {
        cents = corpusF.groupBy("cell")
          .agg(array((0 until 64).map(i =>
            avg(element_at(col("embedding"), i + 1))): _*).as("cent_vec"))
          .cache()
        val nCellsF = cents.count().toInt
        corpusF.select(col("vec_id"), col("cell"),
            Similarity.int8Quantize(col("embedding"),
              Similarity.int8Scale(col("embedding"))).as("q8"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(dir.resolve("cells").toString)
        val totalBytes = parquetBytes(dir.resolve("cells").toFile)
        floats = corpusF.select("vec_id", "embedding").cache()
        floats.count()
        def serveOnce(): (Double, Long, Long, Long) = {
          val t0 = System.nanoTime()
          // probe ranking + the static prune list are SERVE work —
          // inside the timer, like every production request
          val probed = Similarity.probedCellSet(oneQ, "q_id", "q_vec",
            cents, "cent_vec", "cell", storedNProbe)
          val served = Similarity.ivfInt8RefineTopKStored(
            session.read.parquet(dir.resolve("cells").toString)
              .filter(col("cell").isin(probed: _*)),
            "vec_id", "q8", "cell",
            cents, "cent_vec", floats, "embedding",
            oneQ, "q_id", "q_vec", storedNProbe,
            shortlist = 4 * annK, k = annK)
          val n = served.collect().length.toLong
          val sec = (System.nanoTime() - t0) / 1e9
          val scan = LocalRun.fileScans(served.queryExecution.executedPlan)
            .find(_.relation.location.rootPaths
              .exists(_.toString.contains("cells")))
            .getOrElse(sys.error("stored arm: no cells scan in plan"))
          (sec, n, scan.metrics("numPartitions").value,
            scan.metrics("filesSize").value)
        }
        val (s1, n1, p1, b1) = serveOnce()
        val (s2, n2, p2, b2) = serveOnce()
        require(n1 == n2 && n1 == annK.toLong,
          s"stored arm at $f×: expected $annK served rows, got $n1/$n2")
        require(p1 == storedNProbe.toLong && p2 == p1,
          s"stored arm at $f×: coarse scan listed $p1/$p2 partitions, " +
            s"expected exactly nProbe=$storedNProbe of $nCellsF")
        val sec = math.min(s1, s2)
        System.err.println(f"[scalebench] ann_recall stored ${f}%3d×  " +
          f"serve $sec%5.2f s  cells=$nCellsF  " +
          f"scanned ${b1 / 1024}%d KiB of ${totalBytes / 1024}%d KiB " +
          f"(${b1.toDouble / totalBytes}%.4f)")
        s""""$f":{"sec":${fmt(sec)},"cells":$nCellsF,""" +
          s""""scanned_partitions":$p1,""" +
          s""""scanned_bytes":$b1,"total_bytes":$totalBytes,""" +
          s""""scanned_ratio":${fmt(b1.toDouble / totalBytes)}}"""
        } finally {
          if (cents != null) cents.unpersist(blocking = false)
          if (floats != null) floats.unpersist(blocking = false)
          corpusF.unpersist(blocking = false)
          graft.LocalRun.deleteRecursively(dir)
        }
      }
      s""""stored":{"nprobe":$storedNProbe,"queries":1,""" +
        s""""factors":{${entries.mkString(",")}}}"""
    }
    assigned.unpersist(blocking = false)
    corpusL.unpersist(blocking = false)
    s""","ann_recall":{"factor":$maxF,"k":$annK,"cells":$nCells,"bits":10,""" +
      s""""ivf":{${ivfEntries.mkString(",")}},""" +
      s""""lsh":{${lshEntries.mkString(",")}},""" +
      s""""pq":{${pqEntries.mkString(",")}},""" +
      int8Json + "," + storedJson + "}"
  }

  // ---- st18 label-store probe cost vs store size --------------------
  // The bucketed two-layout label store behind st18's per-batch
  // probes, measured at growing store size with the DEPLOYMENT
  // posture: B (hash buckets) sized to the store so bucket rows stay
  // ~constant (B = 8·f here), fixed 20-key probes. Claim under test:
  // a probe's scanned bytes are a function of the PROBE (its bucket
  // list × constant bucket size), not of the store — scanned_ratio
  // falls ~1/f while total bytes grow ×f, and the executed scan lists
  // ≤ min(|probe| · dirs, B) partitions (REQUIREd). The pre-r17
  // store had no layout: every probe read total_bytes at every size.
  private def labelStoreJson(session: SparkSession, factors: Seq[Int]): String = {
    val probeN = 20
    val entries = factors.map { f =>
      val bF = 8 * f
      // replica-disjoint synthetic labels: groups of 3 docs — the
      // layout claim is storage-level, independent of how the
      // labels were derived (st18's CC or otherwise)
      val labels = session.range(200000L * f).select(col("id").as("doc"),
        (col("id") - pmod(col("id"), lit(3))).as("group_id"))
      val root = java.nio.file.Files.createTempDirectory(s"graft-labels-$f")
      try {
        queries.CorpusStreamQueries.writeLabelDirs(session, labels, root, "base", bF)
        val docDir = root.resolve("base").toString
        val grpDir = root.resolve("baseByGrp").toString
        val totalBytes = parquetBytes(root.resolve("base").toFile)
        // fixed probe: 20 docs present at every factor
        val probe = session.range(probeN).select((col("id") * 7919L).as("doc"))
        def serve(paths: Seq[String], pCol: String, bCol: String,
                  pr: org.apache.spark.sql.DataFrame,
                  expectRows: Long): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val resolved = queries.CorpusStreamQueries.resolvedLabelsFor(
            session, paths, pCol, bCol, pr, bF)
          val n = resolved.collect().length.toLong
          val sec = (System.nanoTime() - t0) / 1e9
          require(n == expectRows,
            s"label_store at $f×: $n of $expectRows rows resolved")
          val scans = LocalRun.fileScans(resolved.queryExecution.executedPlan)
            .filter(_.relation.location.rootPaths
              .exists(_.toString.contains("graft-labels")))
          val parts = scans.map(_.metrics("numPartitions").value).sum
          val bytes = scans.map(_.metrics("filesSize").value).sum
          require(parts <= math.min(probeN, bF).toLong,
            s"label_store at $f×: scan listed $parts partitions, " +
              s"expected <= min($probeN, $bF)")
          (sec, parts, bytes)
        }
        val (dSec, dParts, dBytes) = serve(Seq(docDir), "doc", "bkt",
          probe, probeN.toLong)
        // 20 distinct groups of exactly 3 members each
        val (gSec, gParts, gBytes) = serve(Seq(grpDir), "group_id", "gbkt",
          probe.select((col("doc") - pmod(col("doc"), lit(3)))
            .as("group_id")), 3L * probeN)
        System.err.println(f"[scalebench] label_store ${f}%3d×  B=$bF%-4d " +
          f"doc-probe $dSec%5.2f s ${dBytes / 1024}%d KiB / " +
          f"${totalBytes / 1024}%d KiB (${dBytes.toDouble / totalBytes}%.4f)  " +
          f"grp-probe $gSec%5.2f s ${gBytes / 1024}%d KiB")
        s""""$f":{"buckets":$bF,"total_bytes":$totalBytes,""" +
          s""""doc_probe":{"sec":${fmt(dSec)},"partitions":$dParts,""" +
          s""""scanned_bytes":$dBytes,""" +
          s""""scanned_ratio":${fmt(dBytes.toDouble / totalBytes)}},""" +
          s""""grp_probe":{"sec":${fmt(gSec)},"partitions":$gParts,""" +
          s""""scanned_bytes":$gBytes}}"""
      } finally LocalRun.deleteRecursively(root)
    }
    s""","label_store":{"probe_keys":$probeN,""" +
      s""""factors":{${entries.mkString(",")}}}"""
  }

  private def legJson(leg: Leg, factors: Seq[Int], recs: Map[(String, String), Record]): String = {
    val runs = leg.runs.map(r => r -> recs((leg.name, r.name)))
    val fs = factors.filter(f => runs.forall(_._2.sec.contains(f)))
    val sec = fs.map(f => f -> runs.map(_._2.sec(f)).sum).toMap
    val byRun = runs.map { case (r, rec) =>
      val stats = r.checks.zipWithIndex.map { case (c, i) =>
        s""""${c.stat.label}":{${fs.map(f => s""""$f":${rec.vals(f)(i)}""").mkString(",")}}"""
      }
      s""""${r.name}":{"sec":{${fs.map(f => s""""$f":${fmt(rec.sec(f))}""").mkString(",")}},""" +
        stats.mkString(",") + "}"
    }
    val queries = leg.runs.filter(_.fn.isEmpty).map(r => s""""${r.name}"""")
    s""""${leg.name}":{"tables":${leg.layout.fold("null")(l => s""""${l.name}"""")},""" +
      s""""queries":[${queries.mkString(",")}],""" +
      s""""sec":{${fs.map(f => s""""$f":${fmt(sec(f))}""").mkString(",")}},""" +
      s""""ratio_vs_1x":{${fs.filter(_ > 1).map(f => s""""x$f":${fmt(sec(f) / sec(1))}""").mkString(",")}},""" +
      s""""runs":{${byRun.mkString(",")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALEBENCH_OUT", "bench_scale.json")
    val legFilter = sys.env.get("SPARK_GRAFT_SCALE_LEGS")
      .map(_.split(",").map(_.trim).toSet)
    def chosen(name: String): Boolean = legFilter.forall(_.contains(name))
    val session = LocalRun.session(cpus.toInt)
    val table = legs(session, sfDir).filter(l => chosen(l.name))
    val recs = measure(session, sfDir, factors, table)
    val annJson = if (chosen("ann_recall")) annRecallJson(session, sfDir, factors) else ""
    val labelJson = if (chosen("label_store")) labelStoreJson(session, factors) else ""
    val json = s"""{"metric":"scale_bench","unit":"sec","sf_dir":"$sfDir",""" +
      s""""factors":[${factors.mkString(",")}],""" +
      s""""legs":{${table.map(legJson(_, factors, recs)).mkString(",")}}$annJson$labelJson}"""
    Files.write(java.nio.file.Paths.get(outFile), json.getBytes("UTF-8"))
    println(json)
    session.stop()
  }
}
