package graft

import java.nio.file.{FileSystemException, Files, Path, Paths,
  StandardCopyOption}
import java.util.UUID
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

  /** A step with no memo: an on-disk builder (its idempotence is
    * [[publish]]'s), or a plain warm pass. */
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

  // ------------------------------------------------------------ on disk

  /** The directory of corpus `corpus`'s on-disk artifact `suffix`, under
    * [[Tuning.artifactRoot]]. The suffix names the artifact and every
    * build constant, so a changed constant never reuses a stale build. */
  def dir(corpus: String, suffix: String): String = {
    val key = corpus.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${Tuning.artifactRoot}/$key-$suffix"
  }

  /** The completion marker, written last into a build's directory. Its
    * `_` prefix keeps Spark's readers from taking it for data. */
  private val Marker = "_READY"

  /** Build the local directory `target` once; returns `target`.
    *
    * `build` writes into a fresh hidden staging directory next to the
    * target, the marker goes in last, and the staging directory is
    * renamed onto the target (`rename(2)` succeeds onto an absent or
    * empty directory and fails onto a non-empty one). So a target holds
    * either nothing or a whole build with its marker: a build that
    * throws or is killed leaves only its staging directory, which no
    * call reads. A concurrent builder that loses the rename drops its
    * own build and serves the winner's. A non-empty target without the
    * marker (not built here) fails loudly, naming it; it is never
    * deleted. */
  def publish(target: String)(build: String => Unit): String = {
    val t = Paths.get(target).toAbsolutePath
    if (!published(t)) {
      Files.createDirectories(t.getParent)
      val stage = Files.createDirectory(t.resolveSibling(
        s".${t.getFileName}.stage-${UUID.randomUUID}"))
      try {
        build(stage.toString)
        Files.write(stage.resolve(Marker), Array.emptyByteArray)
        try Files.move(stage, t, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if published(t) => () }
      } finally Tuning.deleteRecursively(stage.toFile)
    }
    target
  }

  private def published(t: Path): Boolean =
    Files.isRegularFile(t.resolve(Marker)) || {
      val kids = Option(t.toFile.list()).getOrElse(Array.empty[String])
      if (kids.nonEmpty) throw new IllegalStateException(
        s"artifact directory $t is not empty but has no $Marker: an " +
          "interrupted or foreign build; remove it to rebuild")
      false
    }
}
