package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** A per-(session, corpus) artifact the queries share: built on the first
  * [[get]], read by every later query on that corpus, released with the
  * session's other pinned frames.
  *
  * Each artifact has its own memo map, keyed by
  * ([[Resources.sessionKey]], corpus, variant). `computeIfAbsent` runs a
  * build at most once per key, so two concurrent first callers never
  * both build and strand the loser's pinned frames. The maps are never
  * shared: a build may `get` another artifact, and a nested
  * `computeIfAbsent` on the same map throws `Recursive update`.
  *
  * Construction registers one [[Resources.onReleaseAll]] hook that
  * empties the map and frees every frame its values pin, so
  * [[Resources.releaseAll]] releases every artifact ever built. An
  * artifact that was never constructed has built nothing.
  *
  * @param variants the variants [[warm]] builds (most artifacts have one;
  *                 the BPE encoder has a full-corpus and a train split)
  * @param eager    the build materializes every pinned frame itself, so
  *                 [[warm]] only builds (a count would be one more job)
  * @param uses     the artifacts the build reads; [[release]] frees them
  *                 too, so releasing an artifact unpins all it warmed */
final class Artifact[A] private (val name: String,
    build: (SparkSession, String, String) => A,
    pins: A => Seq[DataFrame], variants: Seq[String], eager: Boolean,
    uses: Seq[Artifact[_]]) extends Artifact.Step {
  private val memo = new ConcurrentHashMap[(String, String, String), A]
  Resources.onReleaseAll(() => drop(_ => true))

  def get(s: SparkSession, d: String, variant: String = ""): A =
    memo.computeIfAbsent((Resources.sessionKey(s), d, variant),
      _ => build(s, d, variant))

  /** Build every variant and materialize the frames it pins. */
  def warm(s: SparkSession, d: String): Unit = variants.foreach { v =>
    val a = get(s, d, v)
    if (!eager) pins(a).foreach(_.count())
  }

  /** Free what this artifact, and the artifacts it uses, built on `s`. */
  def release(s: SparkSession): Unit = {
    val k = Resources.sessionKey(s)
    drop(_._1 == k)
    uses.foreach(_.release(s))
  }

  // entry by entry, the memo entry goes before its frames: a racing
  // caller sees either the still-pinned frame or a fresh build
  private def drop(p: ((String, String, String)) => Boolean): Unit =
    memo.keySet.asScala.filter(p).foreach { k =>
      Option(memo.remove(k)).foreach(pins(_).foreach(Resources.free))
    }
}

object Artifact {
  /** A named warmup step: [[Bench.warmupSteps]] runs each in order. */
  trait Step {
    def name: String
    def warm(s: SparkSession, d: String): Unit
  }

  /** A step with no memo: an on-disk builder that keeps its own
    * idempotence (marker files), or a plain warm pass. */
  def step(stepName: String)(run: (SparkSession, String) => Any): Step =
    new Step {
      val name = stepName
      def warm(s: SparkSession, d: String): Unit = { run(s, d); () }
    }

  /** An artifact with one value per (session, corpus). */
  def apply[A](name: String, eager: Boolean = false,
      uses: Seq[Artifact[_]] = Nil)(build: (SparkSession, String) => A)(
      pins: A => Seq[DataFrame]): Artifact[A] =
    new Artifact[A](name, (s, d, _) => build(s, d), pins, Seq(""), eager,
      uses)

  /** An artifact with one value per (session, corpus, variant). */
  def variants[A](name: String, variants: Seq[String])(
      build: (SparkSession, String, String) => A)(
      pins: A => Seq[DataFrame]): Artifact[A] =
    new Artifact[A](name, build, pins, variants, false, Nil)

  /** An artifact whose value is a single pinned frame. */
  def frame(name: String, eager: Boolean = false,
      uses: Seq[Artifact[_]] = Nil)(
      build: (SparkSession, String) => DataFrame): Artifact[DataFrame] =
    apply(name, eager, uses)(build)(Seq(_))
}
