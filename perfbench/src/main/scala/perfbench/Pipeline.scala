package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Graphs, SemDedup, Text}

/** An LLM-data pipeline driver, one round at a time. Ingest: through the
  * ClickHouse SQL front door (`graft.Graft.sql`) it creates a MergeTree
  * table with an explicit schema, loads the generated corpus (`gen.py`)
  * in `INSERT … SELECT` batches, runs `ALTER TABLE … UPDATE` and
  * `… DELETE` mutations, and reads an aggregate after every write; a
  * plain replay of the writes is the reference for each read. Dedup: over
  * the table's live rows it runs exact grouping, minhash signatures,
  * banded LSH candidates confirmed by exact Jaccard, connected components
  * with a canonical keep, semantic dedup and substring-span removal, each
  * stage one operation forced by an action and checked against the
  * corpus's planted duplicates.
  */
object Pipeline {
  private val Batches = 3
  private val Groups = 7
  // The banded-LSH shape of graft's own callers (PipelineQueries.lshPairs,
  // Stress): 8 bands of 2 rows, the program's bucket cap, a 0.35 Jaccard
  // confirmation, DISK_ONLY frames. Planted twins (Jaccard >= 0.9) are
  // candidates but for a chance under 2e-6 per pair; templated documents
  // (Jaccard <= 0.26) become candidates now and then and are never confirmed.
  private val Bands = 8
  private val Rows = 2
  private val MinJaccard = 0.35
  private val BucketCap = graft.PerfbenchParams.lshBucketCap
  private val SpanK = 15
  // words of a templated document's shared header (gen.TEMPLATE_HEADER)
  private val TemplateHeader = 30

  /** Planted groups (`gen.dedup_corpus`) among the documents still live. */
  private final class Truth(cluster: Map[Long, Long], val kind: Map[Long, String],
                            val chars: Map[Long, Long], live: Set[Long]) {
    private def groups(kinds: Set[String]): Set[Set[Long]] =
      cluster.filter { case (id, c) => c >= 0 && live(id) && kinds(kind(id)) }
        .groupBy(_._2).values.map(_.keySet).filter(_.size > 1).toSet
    val exact: Set[Set[Long]] = groups(Set("boilerplate"))
    val near: Set[Set[Long]] = groups(Set("boilerplate", "twin"))
    val twins: Map[Long, Long] = near.filter(g => kind(g.head) == "twin")
      .flatMap(g => g.map(_ -> g.min)).toMap
    private val dup = near.flatten
    private val templated = groups(Set("templated")).flatten
    def hasDuplicate(id: Long): Boolean = dup(id)
    /** A templated document with a live mate: they share a header. */
    def sharesHeader(id: Long): Boolean = templated(id)
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val ti = System.nanoTime()
    val corpus = spark.read.parquet(s"${ctx.corpus}/docs.parquet")
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.createOrReplaceTempView("pb_corpus")
    val docs = corpus.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tr = spark.read.parquet(s"${ctx.corpus}/truth.parquet").collect()
    val cluster = tr.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kind = tr.map(r => r.getLong(0) -> r.getString(2)).toMap
    ctx.rep.setup("setup.input_s") = (System.nanoTime() - ti) / 1e9
    ctx.rep.extra("docs") = docs.size.toDouble

    val snapshots = Paths.get(System.getProperty("java.io.tmpdir"), "graft_mutations")
    val amps = mutable.ArrayBuffer[Double]()
    var tracedRows = 0L
    def round(r: Int): Double = {
      val table = s"pb_docs_$r"
      var live = Set.empty[Long]
      val ingestS = ctx.timed { live = ingest(ctx, table, docs) }
      if (ctx.trace.isAttached && !ctx.cold) tracedRows += docs.size
      val dedupS = ctx.timed(dedup(ctx, spark.table(table), new Truth(cluster, kind, docs, live)))
      ctx.rep.dedupSweeps += dedupS
      // space: bytes held for the table against its live rows written once
      val once = ctx.work.resolve("once").resolve(table)
      spark.table(table).write.mode("overwrite").parquet(once.toString)
      val (onceBytes, _) = held(once.getParent, table)
      if (onceBytes > 0) amps += held(snapshots, table + "_")._1.toDouble / onceBytes
      Loop.attempt(ctx, "drop")(graft.Graft.sql(spark, s"DROP TABLE $table").collect())
      ingestS + dedupS
    }
    ctx.coldPass(round(0))
    var i = 0
    while (ctx.more(i)) { ctx.warmPass(i)(round(i + 1)); i += 1 }
    val (bytes, files) = held(snapshots, "pb_docs_")
    ctx.rep.extra("space_amp") = amps.sorted.apply(amps.size / 2)
    ctx.rep.extra("mut.bytes_on_disk") = bytes.toDouble
    ctx.rep.extra("mut.files_written") = files.toDouble
    ctx.rep.extra("mut.snapshots_live") =
      Files.list(snapshots).filter(_.getFileName.toString.startsWith("pb_docs_")).count().toDouble
    ctx.rep.extra("mut.rows_inserted_traced") = tracedRows.toDouble
  }

  /** Sizes of the parquet part files under `dir` whose top directory
    * starts with `prefix`: (bytes, files).
    */
  private def held(dir: Path, prefix: String): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).toArray.map(_.asInstanceOf[Path]).filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
          dir.relativize(p).getName(0).toString.startsWith(prefix))
      (files.map(Files.size).sum, files.length.toLong)
    }

  /** Loads every document into a fresh table in batches, with one UPDATE
    * and one DELETE at seeded points after the first batch; returns the
    * ids still live.
    */
  private def ingest(ctx: Main.Ctx, table: String, chars: Map[Long, Long]): Set[Long] = {
    val rng = ctx.rng
    val docs = chars.keys.toVector.sorted
    val live = mutable.Map[Long, (Int, Long)]() // doc_id -> (src, score)
    val step = (docs.size + Batches - 1) / Batches
    val batches = docs.grouped(step).toVector
    def sql(kind: String, text: String): Boolean =
      Loop.attempt(ctx, s"$kind $table") {
        val (_, ms) = ctx.trace.op(kind)(ctx.trace.span("chsql") {
          graft.Graft.sql(ctx.spark, text).collect()
        })
        ctx.writes += ms
      }.isDefined
    def select[T](kind: String, after: String, text: String, want: Seq[T])(
        row: org.apache.spark.sql.Row => T): Unit =
      Loop.attempt(ctx, s"$kind $table") {
        val (rows, ms) = ctx.trace.op(kind)(ctx.trace.span("chsql") {
          graft.Graft.sql(ctx.spark, text).collect()
        })
        ctx.read(kind, ms)
        if (rows.toSeq.map(row) != want)
          ctx.rep.wrong(s"$kind $table", s"read after $after differs from the replay")
      }
    // three reads after every write: an aggregate over all live rows, a
    // filtered aggregate over one seeded source and a top-k, each compared
    // with the replay. Three shapes of distinct cost keep the read median
    // on one shape rather than in the gap between two.
    def check(after: String): Unit = {
      select("select_agg", after, s"SELECT src, count() AS n, sum(n_chars) AS c, " +
          s"sum(score) AS s FROM $table GROUP BY src ORDER BY src",
        live.toSeq.groupBy(_._2._1).toSeq.sortBy(_._1).map { case (g, xs) =>
          (g, xs.size.toLong, xs.map(x => chars(x._1)).sum, xs.map(_._2._2).sum)
        })(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      select("select_top", after, s"SELECT doc_id, n_chars FROM $table " +
          "ORDER BY n_chars DESC, doc_id LIMIT 10",
        live.keys.toSeq.map(k => (k, chars(k))).sortBy { case (k, c) => (-c, k) }.take(10))(
        r => (r.getLong(0), r.getLong(1)))
      val g = rng.nextInt(Groups)
      val mine = live.toSeq.filter(_._2._1 == g)
      select("select_src", after, s"SELECT count() AS n, sum(n_chars) AS c, max(score) AS m " +
          s"FROM $table WHERE src = $g",
        Seq((mine.size.toLong, mine.map(x => chars(x._1)).sum, mine.map(_._2._2).max)))(
        r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    sql("create", s"CREATE TABLE $table (doc_id Int64, text String, n_chars Int64, " +
      "src Int32, score Int64) ENGINE = MergeTree ORDER BY doc_id")
    val writes = "insert" +: rng.shuffle(Vector.fill(Batches - 1)("insert") ++ Seq("update", "delete"))
    var next = 0
    for (w <- writes) {
      val ok = w match {
        case "insert" =>
          val b = batches(next)
          next += 1
          sql("insert", s"INSERT INTO $table SELECT doc_id, text, n_chars, " +
            s"CAST(pmod(doc_id, $Groups) AS INT) AS src, CAST(0 AS BIGINT) AS score " +
            s"FROM pb_corpus WHERE doc_id >= ${b.head} AND doc_id <= ${b.last}") && {
            b.foreach(id => live(id) = (Math.floorMod(id, Groups.toLong).toInt, 0L)); true
          }
        case "update" =>
          val (g, d) = (rng.nextInt(Groups), 1 + rng.nextInt(9))
          sql("update", s"ALTER TABLE $table UPDATE score = score + $d WHERE src = $g") && {
            live.mapValuesInPlace { case (_, (s, v)) => (s, if (s == g) v + d else v) }; true
          }
        case _ =>
          val m = 13
          val r = rng.nextInt(m)
          sql("delete", s"ALTER TABLE $table DELETE WHERE doc_id % $m = $r") && {
            live.filterInPlace { case (k, _) => k % m != r }; true
          }
      }
      if (ok) check(w)
    }
    live.keySet.toSet
  }

  /** The dedup stages over `docs`, each checked against `truth`. */
  private def dedup(ctx: Main.Ctx, docs: DataFrame, truth: Truth): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val persisted = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { persisted += df; df.persist(StorageLevel.DISK_ONLY) }
    def stage[T](name: String)(body: => T): Option[T] =
      Loop.attempt(ctx, name) {
        val (out, ms) = ctx.trace.op(name)(body)
        ctx.record(name, ms)
        out
      }
    def wrong(name: String, what: String): Unit = ctx.rep.wrong(name, what)
    def show(g: Option[Set[Long]]) = g.map(_.toSeq.sorted.mkString(",")).getOrElse("-")

    val groups = keep(docs.groupBy($"text")
      .agg(min($"doc_id").as("rep_id"), collect_list($"doc_id").as("members")))
    stage("exact") {
      groups.filter(size($"members") > 1).select($"members").collect()
        .map(_.getSeq[Long](0).toSet).toSet
    }.filter(_ != truth.exact).foreach(_ =>
      wrong("exact", "exact-duplicate groups differ from the planted boilerplate groups"))

    val reps = groups.select($"rep_id".as("doc_id"), $"text")
    val sigs = keep(reps
      .withColumn("hp", Text.hashPairs(array_distinct(Text.shingles(Text.tokens($"text"), 3))))
      .select($"doc_id", array_distinct(transform($"hp", p => p.getField("h1"))).as("sh"),
        Text.minhashSigFromPairs($"hp", Bands * Rows).as("sig")))
    stage("minhash")(sigs.count())

    val bands = sigs.select($"doc_id", explode(Text.bandKeys($"sig", Bands, Rows)).as("bk"))
    val lsh = stage("lsh") {
      val sh = sigs.select($"doc_id", $"sh")
      val conf = keep(Text.selfJoinPairs(bands, "bk", "doc_id", BucketCap)
        .select($"a_id", $"b_id").distinct()
        .join(sh.select($"doc_id".as("a_id"), $"sh".as("sa")), "a_id")
        .join(sh.select($"doc_id".as("b_id"), $"sh".as("sb")), "b_id")
        .withColumn("jac", Text.jaccard($"sa", $"sb"))
        .filter($"jac" >= MinJaccard)
        .select($"a_id", $"b_id", $"jac"))
      (conf.count(), conf)
    }
    lsh.foreach { case (f, _) =>
      ctx.rep.extra("ops.lsh_confirmed") = f.toDouble
      // candidates are counted outside the timed stage, which (like the
      // program) never materializes them apart
      if (ctx.traced) ctx.untimed {
        ctx.rep.extra("ops.lsh_candidates") = Text.selfJoinPairs(bands, "bk", "doc_id", BucketCap)
          .select($"a_id", $"b_id").distinct().count().toDouble
      }
    }

    lsh.flatMap { case (_, conf) =>
      stage("cc") {
        val cc = Graphs.connectedComponents(conf.select($"a_id", $"b_id"), "a_id", "b_id")
        groups.select($"rep_id", explode($"members").as("doc_id"))
          .join(cc.select($"id".as("rep_id"), $"component"), Seq("rep_id"), "left")
          .join(docs.select($"doc_id", $"n_chars"), "doc_id")
          .select($"doc_id", $"n_chars", coalesce($"component", $"rep_id").as("cluster"))
          .groupBy($"cluster")
          .agg(collect_list($"doc_id").as("members"),
            max_by($"doc_id", $"n_chars" * lit(100000000L) - $"doc_id").as("keep"))
          .filter(size($"members") > 1)
          .collect().map(r => (r.getSeq[Long](1).toSet, r.getLong(2))).toSet
      }
    }.foreach { cs =>
      val found = cs.map(_._1)
      if (found != truth.near)
        wrong("cc", s"${(found -- truth.near).size} of ${found.size} clusters differ from the " +
          s"${truth.near.size} planted ones, e.g. found ${show((found -- truth.near).headOption)} " +
          s"planted ${show((truth.near -- found).headOption)}")
      cs.find { case (m, k) => k != m.maxBy(id => (truth.chars(id), -id)) }
        .foreach { case (_, k) => wrong("cc", s"canonical keep $k is not the longest member") }
    }

    stage("semdedup") {
      val pairs = keep(SemDedup.pairs(reps, "doc_id", "text"))
      val cl = SemDedup.clusters(pairs).collect()
      (pairs.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet, cl.length)
    }.foreach { case (pairs, nClusters) =>
      // banded cosine LSH is probabilistic: most confirmed pairs must be
      // planted twins, and a good share of the planted twins found
      val inside = pairs.count { case (a, b) => truth.twins.get(a).exists(truth.twins.get(b).contains) }
      val found = pairs.flatMap { case (a, _) => truth.twins.get(a) }.size
      val planted = truth.twins.values.toSet.size
      if (nClusters == 0 || inside < 0.9 * pairs.size || found < 0.3 * planted)
        wrong("semdedup", s"${pairs.size} pairs, $inside inside planted clusters, " +
          s"$found of $planted planted clusters found")
    }

    stage("substring") {
      val spans = Text.duplicateSpans(docs, "doc_id", "text", k = SpanK)
      Text.cutSpans(docs, spans, "doc_id", "text")
        .select($"doc_id", size(Text.tokens($"text")).as("old"),
          when($"text_dedup" === "", 0).otherwise(size(Text.tokens($"text_dedup"))).as("now"))
        .as[(Long, Int, Int)].collect()
    }.foreach { rows =>
      // a document with a live duplicate loses its shared spans: all of
      // a boilerplate copy, all but the edited word of a twin, at least
      // the header of a templated document and never its whole body
      rows.find { case (id, old, now) =>
        if (truth.sharesHeader(id)) now < 1 || now > old - TemplateHeader
        else if (!truth.hasDuplicate(id)) now != old
        else if (truth.kind(id) == "boilerplate") now != 0
        else now < 1 || now >= old
      }.foreach { case (id, old, now) =>
        wrong("substring", s"doc $id (${truth.kind(id)}) kept $now of $old tokens")
      }
    }
    persisted.foreach(_.unpersist())
  }
}
