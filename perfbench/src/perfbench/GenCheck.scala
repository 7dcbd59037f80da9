package perfbench

import java.nio.file.Paths

/** Writes one seed's generated inputs under a directory and prints their
  * byte fingerprint: the documents of all 13 collections, and a delta and
  * a snapshot drop per table drawn against a seeded model.
  *
  * {{{ perfbench.GenCheck <seed> <dir> }}}
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val dir = Paths.get(args(1))
    val specs = Target.specs
    Gen.documents(seed, specs, 200, dir.resolve("docs"))
    specs.zipWithIndex.foreach { case (spec, t) =>
      val m = new Drops.Model(spec)
      val r = Gen.rng(seed, 500 + t)
      (1 to 50).foreach(i => m.put(i.toLong, Drops.randomRow(spec, r, m.keyIdx, Gen.oid(r, t, i.toLong))))
      val cols = spec.columns.map(_.name)
      Gen.writeCsv(dir.resolve("delta").resolve(spec.table), cols,
        Drops.delta(m, Gen.rng(seed, 1000 + t), 1, t, 20))
      Gen.writeCsv(dir.resolve("snapshot").resolve(spec.table), cols,
        Drops.snapshot(m, Gen.rng(seed, 1999 + t), 1)._1)
    }
    println(Gen.fingerprint(dir))
  }
}
