package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.schema.TableSpec
import graft.sink.ConflictPolicy

/** The daily lifecycle's inputs: seeded delta and snapshot drops, drawn
  * against an in-memory model of each live table, and the model itself,
  * which is the oracle the database must equal after every apply.
  *
  * Delta composition: [[UpdateShare]] updates of distinct known keys,
  * [[NewShare]] new keys, the rest exact copies of other rows of the same
  * delta (a re-sent record). Snapshot composition: [[ChurnShare]] of live
  * rows with changed update columns, [[DeleteShare]] dropped,
  * [[SnapshotNewShare]] new keys. Non-key values are null with
  * probability 1/20.
  */
object Drops {

  val UpdateShare = 0.5
  val NewShare = 0.4
  val ChurnShare = 0.05
  val DeleteShare = 0.02
  val SnapshotNewShare = 0.01

  /** One live table: id → canonical values in the spec's flat order. */
  final class Model(val spec: TableSpec) {
    val key: String = Target.keyOf(spec)
    val keyIdx: Int = spec.columns.indexWhere(_.name == key)
    val rows: mutable.Map[Long, Array[String]] = mutable.HashMap.empty
    val byKey: mutable.Map[String, Long] = mutable.HashMap.empty
    val updateIdx: Seq[Int] = spec.policy match {
      case ConflictPolicy.UpdateOnConflict(_, upd) => upd.map(c => spec.columns.indexWhere(_.name == c))
      case _ => Nil
    }
    def put(id: Long, row: Array[String]): Unit = { rows(id) = row; byKey(row(keyIdx)) = id }
    def maxId: Long = if (rows.isEmpty) 0L else rows.keysIterator.max

    /** Rows of known keys update the policy's update set; new keys get
      * ids after `max(id)` in key order; a duplicated new key keeps the
      * lower id (the sink's keep-first dedup).
      */
    def upsert(in: Seq[Array[String]]): Unit = {
      val (known, fresh) = in.partition(r => byKey.contains(r(keyIdx)))
      known.foreach { r =>
        val row = rows(byKey(r(keyIdx)))
        updateIdx.foreach(i => row(i) = r(i))
      }
      var next = maxId
      fresh.sortBy(_(keyIdx)).foreach { r =>
        next += 1
        if (!byKey.contains(r(keyIdx))) put(next, r.clone())
      }
    }

    def delete(keys: Iterable[String]): Unit = keys.foreach { k => rows.remove(byKey(k)); byKey.remove(k) }
  }

  def randomRow(spec: TableSpec, r: SplittableRandom, keyIdx: Int, key: String): Array[String] =
    spec.columns.zipWithIndex.map { case (c, i) =>
      if (i == keyIdx) key
      else if (r.nextInt(20) == 0) null
      else Gen.flatValue(r, c.dataType)
    }.toArray

  /** A key no earlier drop or document used: tables are told apart by `t`,
    * drops by `day`.
    */
  private def newKey(m: Model, r: SplittableRandom, day: Int, t: Int, i: Int): String =
    if (m.key == "_id") Gen.oid(r, 0x40 + t, day * 100000L + i) else s"p-new-$day-$t-$i"

  def delta(m: Model, r: SplittableRandom, day: Int, t: Int, size: Int): Seq[Array[String]] = {
    val nUpd = (size * UpdateShare).toInt
    val nNew = (size * NewShare).toInt
    val known = m.byKey.keys.toArray.sorted
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < nUpd) picked += known(r.nextInt(known.length))
    val rows = picked.toSeq.map(k => randomRow(m.spec, r, m.keyIdx, k)) ++
      (0 until nNew).map(i => randomRow(m.spec, r, m.keyIdx, newKey(m, r, day, t, i)))
    val dups = (0 until size - nUpd - nNew).map(_ => rows(r.nextInt(rows.size)).clone())
    shuffle(rows ++ dups, r)
  }

  /** A full snapshot of `m`'s table; returns (rows, keys it drops). */
  def snapshot(m: Model, r: SplittableRandom, day: Int): (Seq[Array[String]], Seq[String]) = {
    val gone = mutable.ArrayBuffer.empty[String]
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    m.rows.toSeq.sortBy(_._1).foreach { case (_, live) =>
      val u = r.nextDouble()
      if (u < DeleteShare) gone += live(m.keyIdx)
      else if (u < DeleteShare + ChurnShare) {
        val row = live.clone()
        m.updateIdx.foreach(i => row(i) = Gen.flatValue(r, m.spec.columns(i).dataType))
        rows += row
      } else rows += live.clone()
    }
    val n = (m.rows.size * SnapshotNewShare).toInt
    rows ++= (0 until n).map(i => randomRow(m.spec, r, m.keyIdx, newKey(m, r, day, 99, i)))
    (rows.toSeq, gone.toSeq)
  }

  private def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
