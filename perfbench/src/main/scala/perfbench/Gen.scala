package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.DocGen
import graft.model.TruthDoc
import graft.norm.Normalizer

/** Seeded input generators. Every input is a (doc_id, entity_id, spans)
  * table whose entity_id is the ground truth; the program only ever sees
  * (doc_id, spans).
  *
  * Doc counts per entity follow a Zipf law, taken at stratified quantiles:
  * entity rank r gets the law's inverse CDF at (r + u) / n with a seeded
  * u in [0, 1), and the seed also shuffles which entity holds which rank.
  * The total doc count therefore stays the same from seed to seed (the
  * benchmark compares runs across seeds), while the seed still decides
  * names, typos, which entities are hot and which blocks they crowd.
  */
object Gen {

  /** Zipf(exponent) counts on 1..maxCount at stratified quantiles, as a
    * seeded entity -> count array.
    */
  def zipfCounts(entities: Int, exponent: Double, maxCount: Int, rng: Random): Array[Int] = {
    val weights = (1 to maxCount).map(k => math.pow(k.toDouble, -exponent))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    val byRank = (0 until entities).map { r =>
      // rank 0 is the hottest: quantile 1 - (r + u) / n
      val q = 1.0 - (r + rng.nextDouble()) / entities
      val i = java.util.Arrays.binarySearch(cdf, q)
      1 + (if (i >= 0) i else math.min(-i - 1, maxCount - 1))
    }
    val order = rng.shuffle((0 until entities).toVector)
    val out = new Array[Int](entities)
    order.zip(byRank).foreach { case (e, n) => out(e) = n }
    out
  }

  /** Filler words per short name: enough tokens that a one-character
    * typo still scores in the auto-merge band (DocGen checks each typo
    * variant against its canonical name and falls back otherwise).
    */
  val ShortFiller = 8

  private val legalSuffixes = IndexedSeq(" Inc.", " Incorporated", " Corp", " Corporation",
    ", Ltd.", " Limited", " LLC", " GmbH", " AG", " Company")

  /** Name of an entity's variant `v`: 0 mod 4 an exact copy of the
    * canonical name, 1 a legal-suffix swap and 2 case/whitespace noise
    * (both normalize to the canonical name), 3 a DocGen typo variant.
    */
  def shortName(e: Long, v: Int, seed: Long): String = {
    val canonical = DocGen.variantName(e, 0, seed, 0.93, ShortFiller)
    val rng = new Random(seed ^ (e * 1000003L + v * 7919L))
    v % 4 match {
      case 3 => DocGen.variantName(e, v, seed, 0.93, ShortFiller)
      case 1 =>
        val swapped = DocGen.baseName(e, ShortFiller) + legalSuffixes(rng.nextInt(legalSuffixes.size))
        if (Normalizer.normalize(swapped) == Normalizer.normalize(canonical)) swapped else canonical
      case 2 => "  " + canonical.map(c => if (rng.nextBoolean()) c.toUpper else c)
        .replace(" ", "   ") + " "
      case _ => canonical
    }
  }

  /** Short-name docs for explicit (doc_id, entity, variant) rows. */
  def docs(spark: SparkSession, rows: Seq[(String, Long, Int)], seed: Long,
           partitions: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).repartition(partitions).map { case (id, e, v) =>
      TruthDoc(id, e, DocGen.toSpans(shortName(e, v, seed), e, v, seed))
    }.toDF()
  }

  /** (doc_id, entity, variant) rows for `counts(e)` docs per entity,
    * variants numbered from `firstVariant`; ids are `prefix` plus a
    * running number.
    */
  def rowsFor(prefix: String, entityIds: Seq[Long], counts: Seq[Int],
              firstVariant: Int): Seq[(String, Long, Int)] = {
    var i = 0
    entityIds.zip(counts).flatMap { case (e, n) =>
      (0 until n).map { k =>
        val row = (f"$prefix$i%07d", e, firstVariant + k)
        i += 1
        row
      }
    }
  }

  /** The skewed batch corpus: Zipf doc counts, a few entities above the
    * block cap, most with 1-4 docs.
    */
  def skewed(spark: SparkSession, entities: Int, seed: Long, partitions: Int,
             maxCount: Int, exponent: Double): DataFrame = {
    val rng = new Random(seed)
    val counts = zipfCounts(entities, exponent, maxCount, rng)
    docs(spark, rowsFor("d", (0 until entities).map(_.toLong), counts.toSeq, 0),
      seed, partitions)
  }

  /** The streaming input: a base corpus (batch 0) and `batches` arriving
    * batches. Each arriving batch holds `newEntities` new entities with
    * 1-3 docs each plus `variants` new docs of existing entities, drawn
    * with the base corpus's Zipf weights, so hot entities keep growing.
    */
  final case class Stream(base: DataFrame, arriving: IndexedSeq[DataFrame])

  def stream(spark: SparkSession, baseEntities: Int, seed: Long, partitions: Int,
             maxCount: Int, exponent: Double, batches: Int, newEntities: Int,
             variants: Int): Stream = {
    val rng = new Random(seed)
    val counts = zipfCounts(baseEntities, exponent, maxCount, rng)
    val base = docs(spark,
      rowsFor("b000-", (0 until baseEntities).map(_.toLong), counts.toSeq, 0),
      seed, partitions)
    val cum = counts.map(_.toDouble).scanLeft(0.0)(_ + _).tail
    val total = cum.last
    val arriving = (1 to batches).map { k =>
      val fresh = (0 until newEntities).map(j => (baseEntities + (k - 1) * newEntities + j).toLong)
      // 1-3 docs per new entity, in a fixed rotation so every batch holds
      // the same number of docs whatever the seed
      val freshCounts = fresh.indices.map(j => 1 + j % 3)
      val picked = (0 until variants).map { _ =>
        val x = rng.nextDouble() * total
        val i = java.util.Arrays.binarySearch(cum, x)
        (if (i >= 0) i else -i - 1).toLong
      }
      // variant numbers above every earlier batch's, so each doc is new
      val olds = picked.groupBy(identity).toSeq.sortBy(_._1)
      val rows =
        rowsFor(f"b$k%03d-", fresh, freshCounts, 0) ++
          rowsFor(f"b$k%03dv", olds.map(_._1), olds.map(_._2.size), 10000 * k)
      docs(spark, rows, seed, partitions)
    }
    Stream(base, arriving)
  }
}
