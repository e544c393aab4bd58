package graft.perfbench

/** The benchmark's own unit tests: percentiles, self time, the shadow
  * model, the op stream and build-before-probe ordering. No Spark session
  * is started. Run with `python3 perfbench/run.py --unit-tests`.
  */
object UnitTests {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Exception => println(s"  $name threw $e"); false }) passed += 1
    else { failures += 1; println(s"FAIL $name") }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // percentiles match numpy.percentile's linear interpolation
    val xs = Seq(15.0, 20, 35, 40, 50)
    check("median of odd sample")(near(Stats.median(xs), 35))
    check("p90 interpolates")(near(Stats.percentile(xs, 0.9), 46))
    check("p0 and p100 are the extremes")(
      near(Stats.percentile(xs, 0), 15) && near(Stats.percentile(xs, 1), 50))
    check("median of even sample")(near(Stats.median(Seq(4.0, 1, 3, 2)), 2.5))
    check("single sample")(near(Stats.percentile(Seq(7.0), 0.9), 7))
    check("p90 of 1..100")(near(Stats.percentile((1 to 100).map(_.toDouble), 0.9), 90.1))
    check("empty sample refuses")(
      try { Stats.median(Nil); false } catch { case _: IllegalArgumentException => true })

    // interval union and self time
    check("union merges overlaps")(near(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))), 4))
    check("union of nested intervals")(near(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))), 10))
    check("union ignores empty intervals")(near(Stats.unionLength(Seq((3.0, 3.0), (4.0, 1.0))), 0))
    check("self time subtracts covered children once")(
      near(Stats.selfTime(0, 10, Seq((1.0, 4.0), (2.0, 5.0), (7.0, 8.0))), 5))
    check("self time clips children to the parent")(
      near(Stats.selfTime(0, 10, Seq((-5.0, 2.0), (9.0, 20.0))), 7))
    check("self time without children is the duration")(near(Stats.selfTime(2, 5, Nil), 3))

    // shadow model
    val s = new Shadow
    val init = (0L until 10L).map(k => RwRow(k, (k % 3).toInt, k * 10, "a"))
    s.upsert(init); s.commit(1)
    check("shadow summary counts rows")(s.summary._1 == 10)
    check("shadow summary is order-insensitive")(s.summary == RwRow.summary(init.reverse))
    s.upsert(Seq(RwRow(3, 0, 999, "b"), RwRow(42, 1, 1, "b"))); s.commit(2)
    check("upsert replaces and inserts")(
      s.rows.size == 11 && s.rows(3).v == 999 && s.rows.contains(42))
    check("deleteRange is half-open")(s.deleteRange(2, 5) == 3 && !s.rows.contains(4) &&
      s.rows.contains(5) && !s.rows.contains(2))
    s.commit(3)
    check("updateRange touches live rows only")(s.updateRange(0, 3)(r => r.copy(v = r.v + 1)) == 2)
    check("summary tracks every change")(s.summary == RwRow.summary(s.rows.values))
    check("versions keep their summaries")(
      s.versions(1) == RwRow.summary(init) && s.versions(3)._1 == 8)
    check("groups count and sum")(s.groups.values.map(_._1).sum == s.rows.size &&
      s.groups.values.map(_._2).sum == s.rows.values.map(_.v).sum)
    s.resync(init.take(4), 9)
    check("resync replaces the live rows")(s.rows.size == 4 && s.versions(9) == RwRow.summary(init.take(4)))

    // op stream
    def stream(seed: Long, n: Int) = {
      val g = new RwGen(seed)
      val sh = new Shadow
      sh.upsert(g.fresh(RwGen.InitialRows)); sh.commit(1)
      (1 to n).map(_ => g.next(Seq(1L), 1L))
    }
    check("same seed, same stream")(stream(7, 200) == stream(7, 200))
    check("different seed, different stream")(stream(7, 200) != stream(8, 200))
    check("the first deck covers every kind but maintenance")(
      stream(3, RwGen.Deck).map(_.kind).toSet == RwGen.DeckKinds.toSet)
    check("every seed runs the same mix of kinds")({
      def mix(seed: Long) = stream(seed, 6 * RwGen.Deck).filter(_.inDeck).take(5 * RwGen.Deck)
        .groupBy(_.kind).view.mapValues(_.size).toMap
      mix(1) == mix(2) && mix(2) == mix(99)
    })
    check("compact and vacuum are scheduled")({
      val ks = stream(5, 300).map(_.kind).toSet
      ks("compact") && ks("vacuum")
    })
    check("skewed keys favour recent keys")({
      val g = new RwGen(11)
      g.fresh(1000)
      val ks = (1 to 2000).map(_ => g.skewedKey())
      ks.forall(k => k >= 0 && k < 1000) && ks.count(_ >= 900) > ks.count(_ < 100) * 3 && {
        g.fresh(5000)
        (1 to 2000).map(_ => g.skewedKey()).forall(_ >= 6000 - RwGen.KeyWindow)
      }
    })

    // build-before-probe ordering, on the workload's own entries
    val names = CatalogWorkload.Entries
    val probes = names.filter(_.endsWith("_probe"))
    check("every probe's index entry is in the workload")(
      probes.nonEmpty && probes.forall(p => names.contains(p.stripSuffix("_probe"))))
    val orders = for (seed <- 1L to 200L; pass <- 0 to 3) yield CatalogWorkload.passOrder(names, seed, pass)
    check("every pass is a permutation")(orders.forall(_.sorted == names.sorted))
    check("every index entry precedes its probe")(orders.forall { o =>
      probes.forall(p => o.indexOf(p.stripSuffix("_probe")) < o.indexOf(p))
    })
    check("the order depends on the seed")(orders.distinct.size == names.size)
    check("a pass keeps every entry's neighbours")(orders.forall { o =>
      val c = names.sorted
      o.indices.drop(1).count(i => c((c.indexOf(o(i - 1)) + 1) % c.size) != o(i)) <= 2
    })
    check("every entry has a layer group")(
      names.map(CatalogWorkload.groupOf).toSet == Summary.OperatorGroups.toSet)
    check("indexEntryOf ignores entries outside the set")(
      CatalogWorkload.indexEntryOf("e9_x_probe", names.toSet).isEmpty)

    // fingerprints
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("a", LongType), StructField("b", DoubleType)))
    val rs = Array(Row(1L, 0.1 + 0.2), Row(2L, null))
    check("fingerprint is order-insensitive")(Fingerprint.of(sch, rs) == Fingerprint.of(sch, rs.reverse))
    check("fingerprint absorbs last-bit double noise")(
      Fingerprint.of(sch, Array(Row(1L, 0.3))) == Fingerprint.of(sch, Array(Row(1L, 0.1 + 0.2))))
    check("fingerprint sees a changed value")(
      Fingerprint.of(sch, Array(Row(1L, 0.3))) != Fingerprint.of(sch, Array(Row(1L, 0.31))))

    println(s"perfbench unit tests: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
