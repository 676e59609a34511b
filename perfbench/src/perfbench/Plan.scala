package perfbench

import java.util.SplittableRandom

/** Seeded, deterministic inputs. Everything a workload sends to the
  * program — query order, DML keys, batch slices, the operation mix — is
  * drawn here from `--seed`, so the same seed gives the same inputs. Each
  * pass draws from its own stream (`seed`, pass index), so a run that fits
  * more passes still gives every pass the same inputs as a shorter run. */
object Plan {
  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  /** Registry order: a seeded shuffle of the query subset. */
  def shuffle[T](xs: Seq[T], seed: Long): Seq[T] = {
    val r = rng(seed, -1)
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def pick(r: SplittableRandom, keys: IndexedSeq[Long], n: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    while (out.size < n) out += keys(r.nextInt(keys.size))
    out.toSeq
  }

  /** One wave of the v2 arc: a DELETE of `deleteKeys` order keys, an
    * UPDATE of every row with `l_partkey % mod = rem`, and a point read of
    * `probeKey` (or, if a DELETE took it, the first key still live). */
  final case class Wave(deleteKeys: Seq[Long], mod: Int, rem: Int, probeKey: Long)
  final case class Arc(waves: Seq[Wave], v3DeleteKeys: Seq[Long])

  /** Every UPDATE touches one row in `UpdateMod` (by part key), whatever
    * the seed, so seeds change which rows a wave writes but not how many. */
  val UpdateMod = 50

  def arc(seed: Long, pass: Int, orderKeys: IndexedSeq[Long], waves: Int,
      keysPerDelete: Int): Arc = {
    val r = rng(seed, 1000 + pass)
    val ws = (1 to waves).map { _ =>
      Wave(pick(r, orderKeys, keysPerDelete), UpdateMod, r.nextInt(UpdateMod),
        orderKeys(r.nextInt(orderKeys.size)))
    }
    Arc(ws, pick(r, orderKeys, keysPerDelete / 2))
  }

  /** Operation mix of the ingest stream, as cumulative weights. */
  val IngestMix: Seq[(String, Int)] = Seq(
    "insert" -> 35, "delete" -> 15, "point" -> 20, "count" -> 10,
    "time_travel" -> 10, "snapshots" -> 5, "files" -> 5)

  /** The ingest stream's operation kinds and the random stream that picks
    * each operation's keys (drawn in order as the stream runs). */
  def ingest(seed: Long, pass: Int, ops: Int): (Seq[String], SplittableRandom) = {
    val r = rng(seed, 2000 + pass)
    val total = IngestMix.map(_._2).sum
    val kinds = (1 to ops).map { i =>
      // the stream opens with a write so reads always see a commit of
      // this pass, and never ends on a read-only tail by accident
      if (i == 1) "insert"
      else {
        var x = r.nextInt(total)
        IngestMix.find { case (_, w) => x -= w; x < 0 }.get._1
      }
    }
    (kinds, r)
  }
}
