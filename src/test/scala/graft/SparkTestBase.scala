package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scratch directories for a suite: each [[tempDir]] is a fresh dir under
  * `java.io.tmpdir`, deleted with everything in it after the suite. */
trait TempDirs extends BeforeAndAfterAll { this: AnyFunSuite =>

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs.synchronized(dirs += d)
    d
  }

  override def afterAll(): Unit =
    try dirs.synchronized(dirs.foreach(d => FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}

/** One shared local SparkSession across all suites (getOrCreate), built
  * by the engine's own session factory so specs run under the same join,
  * AQE and codegen-cache policy as the driver mains. */
trait SparkTestBase extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = {
    val s = graft.runtime.Sessions.local(4, 8, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seeded random directed edge list (may contain dups + self-loops). */
  def randomEdges(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
  }

  def edgesDF(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** In-memory Tarjan SCC oracle: id → min vertex id of its SCC. */
  def tarjanScc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.Stack[Long]()
    val out = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    def strongconnect(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      adj.getOrElse(v, Nil).foreach { w =>
        if (!index.contains(w)) { strongconnect(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val comp = scala.collection.mutable.Buffer[Long]()
        var w = -1L
        do { w = stack.pop(); onStack -= w; comp += w } while (w != v)
        val m = comp.min
        comp.foreach(out(_) = m)
      }
    }
    verts.foreach(v => if (!index.contains(v)) strongconnect(v))
    out.toMap
  }

  /** In-memory union-find CC oracle: id → min reachable id (undirected). */
  def unionFindCC(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.foreach { case (a, b) => union(a, b) }
    // path-compress to true minima: union by min-root above already keeps
    // the smaller root, so find() yields the component min
    parent.keys.map(k => k -> find(k)).toMap
  }
}
