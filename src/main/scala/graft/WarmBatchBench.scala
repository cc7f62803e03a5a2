package graft

import graft.incremental.IncrementalState
import graft.queries.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QueryTrace

/** PRODUCTION-SHAPED warm-screen bench: the read-scaling claim the x32
  * fixture cannot show. x32's delta is 20% OF the corpus, so partition
  * pruning is vacuous there by construction — but a deployment's unit of
  * work is a SMALL batch against a HUGE settled state (a crawl tick
  * against 100 TB), where the pruned layout is the difference between
  * reading O(touched files) and re-scanning the corpus-sized relations
  * per tick. This bench measures exactly that: a batchSize-doc batch
  * screened via [[Pipeline.warmScreenAccepted]] with `prune` ON vs OFF
  * (interleaved, median-of-reps, same state, batch localCheckpointed so
  * both arms pay identical batch-side costs).
  *
  * The prune win is bounded by the layout's granularity: a batch whose
  * distinct band buckets ≫ pMod·ln(pMod) touches every partition and the
  * arms converge (the filters are skipped; only the two bounded prune
  * actions differ). That is WHY pMod is a build-time parameter riding
  * the sidecar: the default 32 suits fixture scales, a 100-TB
  * deployment raises it so its batch size sits well under the coupon-
  * collector bound. Pass a larger pMod here to measure that deployment
  * shape (the state is built fresh per pMod).
  *
  * Usage: `runMain graft.WarmBatchBench [sfDir] [pMod] [batchSizes csv]
  * [reps]` — defaults /tmp/sf100, 512, "8,64,1024", 3. Prints one line
  * per (batchSize, arm) plus medians, then each arm's [[QueryTrace]]
  * (jobs with their wall times and descriptions) as one JSON line.
  */
object WarmBatchBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf100")
    val pMod = args.lift(1).map(_.toInt).getOrElse(512)
    val sizes = args.lift(2).getOrElse("8,64,1024").split(",").map(_.trim.toInt).toSeq
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = LocalSpark.session()

    // one state per (fixture, version, pMod) — reused across runs, like
    // the x32 bench cache
    val stateDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_incr_state_v${IncrementalState.CurrentVersion}_p${pMod}_" +
        sfDir.replaceAll("[^A-Za-z0-9.]", "_")).getPath
    if (!IncrementalState.exists(spark, stateDir)) {
      val t0 = System.nanoTime()
      Pipeline.buildState(spark, sfDir, stateDir, pMod)
      println(f"[warmbatch] buildState(pMod=$pMod) ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.catalog.clearCache()
    val statsLine = IncrementalState.stats(spark, stateDir).toSeq.sortBy(_._1)
      .map { case (r, s) => s"$r=${s.files}f/${s.bytes / 1024 / 1024}MB" }.mkString(" ")
    println(s"[warmbatch] state: $statsLine")

    // the batch: the SMALLEST batchSize ids of the standard delta split —
    // deterministic, and localCheckpointed so both arms pay the same
    // batch-side cost (the difference measured is base-side reads only)
    def batchOf(n: Int): DataFrame = {
      val b = Tables.spread(Tables.documents(spark, sfDir))
        .filter(col("doc_id") >= Pipeline.ProbeCap && col("lang") === "en" &&
          col("doc_id") % 5 === 0)
        .orderBy(col("doc_id")).limit(n)
        .select(col("doc_id"), col("source"), col("text"))
      b.localCheckpoint(true)
    }

    sizes.foreach { n =>
      val batch = batchOf(n)
      // one untimed warm-up of EACH arm first (JIT + codegen), then
      // interleaved timed reps
      // floor 0: force the mechanism through the size gate — this bench
      // measures the arms themselves, the gate is the policy under test
      Seq(true, false).foreach { p =>
        Pipeline.warmScreenAccepted(spark, stateDir, batch, prune = p,
          pruneBytesFloor = 0L).count()
        spark.catalog.clearCache()
      }
      val times = scala.collection.mutable.Map(true -> Vector.empty[Double],
        false -> Vector.empty[Double])
      val traces = scala.collection.mutable.Map.empty[Boolean, QueryTrace.Trace]
      var accepted = -1L
      (1 to reps).foreach { _ =>
        Seq(true, false).foreach { p =>
          val (acc, trace) = QueryTrace.during(spark, s"batch=$n prune=$p") {
            Pipeline.warmScreenAccepted(spark, stateDir, batch, prune = p,
              pruneBytesFloor = 0L).count()
          }
          if (accepted < 0) accepted = acc
          else require(acc == accepted,
            s"arms must accept identically (pruning is exact): $acc vs $accepted")
          times(p) :+= trace.wallMs / 1e3
          traces(p) = trace
          spark.catalog.clearCache()
        }
      }
      // per-job decomposition of each arm's last rep: a constant overhead
      // in one arm is attributed to the job that pays it
      Seq(true, false).foreach(p => println(s"[warmbatch-trace] ${traces(p).json}"))
      def med(v: Vector[Double]) = v.sorted.apply(v.size / 2)
      println(f"[warmbatch] batch=$n%6d accepted=$accepted%5d " +
        f"pruned=${med(times(true))}%6.2f s (${times(true).map(t => f"$t%.2f").mkString(",")})  " +
        f"unpruned=${med(times(false))}%6.2f s (${times(false).map(t => f"$t%.2f").mkString(",")})")
      batch.unpersist()
    }
    spark.stop()
  }
}
