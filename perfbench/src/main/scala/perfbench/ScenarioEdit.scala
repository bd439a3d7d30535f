package perfbench

import org.apache.spark.sql.functions._

import graft.core.{Platform, Scenario}
import graft.report.{Operators, Reporter}

/** The interactive modeler: small check-out → add_par → commit
  * transactions on a few scenarios, each followed by filtered reads of
  * random scenarios. Every call is small, so time goes to per-call
  * driver work, Spark job scheduling and store catalog writes; reads
  * often follow a write to the same run and so miss the item cache.
  *
  * Set-up seeds one scenario, clones it, runs a Reporter pass and a
  * time-series export over it, then warms up with `WarmIters` untimed
  * iterations of the loop. */
final class ScenarioEdit(h: Harness, seed: Long) extends Workload {
  import ScenarioEdit._
  private val spark = h.spark
  private val gen = new Gen(spark, seed)
  private val is = gen.nodes(NI)
  private val js = gen.techs(NJ)
  private var mp: Platform = _
  private var scens: IndexedSeq[Scenario] = IndexedSeq.empty
  private var extraI = 0

  def setup(root: String): Unit = {
    mp = new Platform(spark, root)
    mp.addUnit(Unit)
    val s0 = mp.newScenario("edit", "s0")
    h.call("core.checkout")(s0.checkOut())
    s0.initSet("i"); s0.initSet("j")
    h.call("core.add_set")(s0.addSet("i", is))
    h.call("core.add_set")(s0.addSet("j", js))
    s0.initPar("p", Seq("i", "j")); s0.initPar("q", Seq("i"))
    val grid = gen.parGrid(NI, NJ, Unit).cache()
    h.call("core.add_par")(s0.addPar("p", grid))
    h.call("core.add_par")(s0.addPar("q", gen.par1(is, Unit)))
    h.call("core.ts_add")(s0.addTimeseries(gen.tsBlock(TsVariables, Unit)))
    h.call("core.commit")(s0.commit("seed"))
    s0.setAsDefault()
    // the other scenarios start as copies, as a modeler's variants do
    scens = s0 +: (1 until Scenarios).map(k =>
      h.call("core.clone")(s0.cloneScenario(scenario = Some(s"s$k"))))

    // the seeded scenario and its clones hold what was written, in row
    // count and value sum; the expected values come from the generated
    // frame, not the store
    val want = grid.agg(count(lit(1)), sum("value")).head()
    grid.unpersist()
    scens.zipWithIndex.foreach { case (s, k) =>
      val got = h.call("core.par_read")(s.par("p").agg(count(lit(1)), sum("value")).head())
      h.check(got.getLong(0) == want.getLong(0) && got.getDouble(1) == want.getDouble(1),
        s"s$k p: ${got.getLong(0)} rows / sum ${got.getDouble(1)}, " +
          s"want ${want.getLong(0)} / ${want.getDouble(1)}")
    }

    // Reporter pass: a sum-lattice key, a product then sumOver, and an
    // aggregate; totals checked against an independent groupBy
    val r = Reporter.fromScenario(s0)
    val byI = h.call("report.sum")(r.get("p:i").df.collect())
    val prod = h.call("report.product")(
      Operators.sumOver(Operators.product(r.get("p:i-j"), r.get("q:i")), Seq("j"))
        .df.collect())
    val groups = is.grouped(NI / 4).zipWithIndex.map { case (g, k) => s"g$k" -> g }.toMap
    val agg = h.call("report.aggregate")(
      Operators.aggregate(r.get("p:i"), "i", groups).df.collect())
    r.clearQuantityCache()
    val ref = s0.par("p").groupBy("i").agg(sum("value")).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    h.check(byI.length == NI && byI.forall(x =>
        x.getAs[Double]("value") == ref(x.getAs[String]("i"))),
      "report p:i differs from a groupBy sum of p")
    h.check(prod.length == NJ && agg.length == groups.size &&
        agg.map(_.getAs[Double]("value")).sum == ref.values.sum,
      s"report product/aggregate: ${prod.length} / ${agg.length} rows")

    val ts = h.call("core.ts_export")(
      mp.exportTimeseriesData(model = Some("edit"), scenario = Some("s0")).count())
    h.check(ts == TsVariables * gen.years.size, s"TS export: $ts rows, want " +
      s"${TsVariables * gen.years.size}")
  }

  def iteration(it: Int): Unit = {
    // which scenario is edited, with how many rows, and when a set
    // grows follow the iteration number, not the seed: the stored bytes
    // then depend only on how many iterations ran. The set grows in
    // iterations 2 and 10 (warm-up, and the sixth timed one, which
    // traced runs trace)
    val k = it / EditRows.size % scens.size
    val s = scens(k)
    val rows = EditRows(it % EditRows.size)
    val addSet = it % 8 == 2
    val edit = gen.parEdit(is, js, rows, Unit)
    h.timed("write") {
      h.call("core.checkout")(s.checkOut())
      if (addSet) {
        // a new node joins i; its keys stay out of p, so p's count holds
        val node = f"x$seed%d_$extraI%05d"; extraI += 1
        h.call("core.add_set")(s.addSet("i", Seq(node)))
      }
      h.call("core.add_par")(s.addPar("p", edit))
      h.call("core.commit")(s.commit(s"edit $it"))
    }
    (0 until Reads).foreach { r =>
      val kk = if (r == 0) k else gen.rnd.nextInt(scens.size)
      val node = is(gen.rnd.nextInt(is.size))
      val got = h.call("core.par_read", "read")(
        scens(kk).par("p", Map("i" -> Seq(node))).collect())
      h.check(got.length == NJ, s"par read of $node in s$kk: ${got.length} rows, want $NJ")
    }
  }

  /** Edits only overwrite existing keys, so p keeps the full grid. */
  def verify(): Unit = scens.zipWithIndex.foreach { case (s, k) =>
    val n = s.par("p").count()
    h.check(n == NI.toLong * NJ, s"s$k p has $n rows, want ${NI * NJ}")
  }

  /** Runs end on a whole cycle of the edit sizes, so the transaction
    * median always covers the same mix. */
  def warmIters: Int = WarmIters
  def minIters: Int = TimedIters
  override def cycle: Int = EditRows.size

  def liveRows: Long =
    Scenarios.toLong * (NI * NJ + NI + NI + NJ + TsVariables * gen.years.size) + extraI
}

object ScenarioEdit {
  val Scenarios = 2
  val NI = 40
  val NJ = 50
  val TsVariables = 20
  val EditRows = Seq(50, 200)
  val Reads = 5
  val WarmIters = 5
  val TimedIters = 6
  val Unit = "Mt CO2/yr"
}
