package perfbench

/** Generator determinism: the same seed gives identical inputs and a
  * different seed different ones, for every workload's generator; and
  * the corpus keeps the value domains the query mix filters on. Run
  * through `python3 perfbench/run.py --self-test`; exits 1 on failure. */
object SelfTest {
  private def digests(seed: Long): Seq[(String, Long)] = Seq(
    "export" -> Gen.export(seed, 3000, 50).digest,
    "documents" -> Gen.digest(Gen.documents(seed, 500).iterator.map(_.toString)),
    "embeddings" -> Gen.digest(Gen.embeddings(seed, 200).iterator
      .map(e => s"${e.id} ${e.label} ${e.vec.mkString(",")}")),
    "events" -> Gen.digest(Gen.events(seed, 2000, 50).iterator.map(_.toString)))

  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println((if (ok) "ok   " else "FAIL ") + what)
      if (!ok) failures += 1
    }
    val (a, b, c) = (digests(1), digests(1), digests(2))
    a.zip(b).zip(c).foreach { case (((name, x), (_, y)), (_, z)) =>
      expect(x == y, s"$name: same seed, same inputs")
      expect(x != z, s"$name: different seed, different inputs")
    }

    val docs = Gen.documents(3, 2000)
    expect(docs.map(_.lang).toSet == Set("en", "de", "es", "fr", "zh"),
      "documents cover the five languages")
    expect(docs.map(_.source).toSet.size == 20, "documents cover 20 sources")
    val ex = Gen.export(3, 5000, 100)
    expect(ex.climbs.exists(!_.hasCoords) && ex.climbs.exists(_.hasCoords),
      "export has climbs with and without coordinates")
    expect(ex.climbs.exists(c => !c.country.contains("USA")),
      "export has non-USA climbs")
    expect(Gen.Schemas.forall { case (s, _) => ex.expectedRows(s) > 0 },
      "every export schema writes rows")
    expect(ex.failOnce.nonEmpty, "some export pages answer 503 once")
    if (failures > 0) sys.exit(1)
  }
}
