package perfbench

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.fixtures.PageGen
import graft.util.Hashing

/** One benchmark page with its generation-time truth: the entity
  * mentions embedded in it ("norm|type" -> count) and its topic.
  */
final case class BenchPage(
    url: String,
    warcTsMicros: Long,
    html: Array[Byte],
    title: String,
    text: String,
    lang: String,
    topic: Int,
    truth: Map[String, Int])

/** Seeded input generator. Pages are built from `PageGen` pages, whose
  * truth is exact by construction; a page longer than one generated page
  * concatenates several of one topic, joined the way sentences are joined
  * inside a page, and its truth is the union of theirs. Page text lengths
  * follow a log-normal fitted to the reference corpus (p50 1,528 chars,
  * mean 2,346, BASELINE.md), capped at [[MaxChars]].
  *
  * Every page is a pure function of (seed, index), so staged files are
  * byte-identical for the same seed at any thread count.
  */
object Gen {

  val MedianChars = 1528.0
  val MeanChars = 2346.0
  val MaxChars = 50000
  private val Mu = math.log(MedianChars)
  private val Sigma = math.sqrt(2 * math.log(MeanChars / MedianChars))

  /** Parts per page are indexed below this, so part indices never collide. */
  private val PartsPerPage = 1024

  private def rng(seed: Long, salt: Long, j: Long) =
    new java.util.Random(Hashing.splitmix64(seed * 0x2545F4914F6CDD1DL ^ salt ^ Hashing.splitmix64(j)))

  def targetChars(seed: Long, j: Long): Int = {
    val g = rng(seed, 0x51L, j).nextGaussian()
    math.min(MaxChars, math.max(120, math.exp(Mu + Sigma * g))).toInt
  }

  /** Page `j` of the corpus for `seed`; `ns` keeps corpora of different
    * workloads apart (distinct urls).
    */
  def page(seed: Long, ns: String, j: Long): BenchPage = {
    val target = targetChars(seed, j)
    val topic = (Hashing.splitmix64(seed ^ j) & 0x7fffffffL).toInt % PageGen.numTopics
    val sb = new StringBuilder
    val truth = scala.collection.mutable.Map.empty[String, Int]
    var q = 0
    var first: graft.fixtures.GenPage = null
    while (q == 0 || (sb.length < target && q < PartsPerPage)) {
      // PageGen derives the topic from the index (i % numTopics)
      val i = (j * PartsPerPage + q) * PageGen.numTopics + topic
      val g = PageGen.generate(i, seed)
      if (q == 0) first = g else sb.append(" . ")
      sb.append(g.text)
      g.truth_mentions.foreach(m => truth(m) = truth.getOrElse(m, 0) + 1)
      q += 1
    }
    val text = sb.toString
    val title = text.substring(0, text.indexOf(". "))
    val url = s"https://news${j % 97}.example/${first.lang}/$ns-s$seed/p$j"
    BenchPage(url, (PageGen.Epoch + j * 37000L) * 1000L,
      PageGen.renderHtml(title, text, j), title, text, first.lang, topic,
      truth.toMap)
  }

  private val PageSchema = MessageTypeParser.parseMessageType(
    """message page {
      |  required binary url (STRING);
      |  required int64 warc_ts (TIMESTAMP(MICROS,true));
      |  required binary html;
      |  required binary text (STRING);
      |  required binary lang (STRING);
      |}""".stripMargin)

  /** Writes pages as one parquet file with the engine's `Page` schema. */
  def writeParquet(file: File, pages: Iterator[BenchPage]): Unit = {
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new HPath(file.toURI))
      .withConf(conf).withType(PageSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val f = new SimpleGroupFactory(PageSchema)
    try pages.foreach { p =>
      w.write(f.newGroup()
        .append("url", p.url)
        .append("warc_ts", p.warcTsMicros)
        .append("html", Binary.fromConstantByteArray(p.html))
        .append("text", p.text)
        .append("lang", p.lang))
    } finally w.close()
    // the local file system writes checksum side files; readers skip
    // dot-files, but they are not part of the staged input
    new File(file.getParentFile, s".${file.getName}.crc").delete()
    ()
  }

  /** Truth line: url, topic, then norm|type=count entries. */
  def truthLine(p: BenchPage): String =
    (Seq(p.url, p.topic.toString) ++
      p.truth.toSeq.sorted.map { case (k, n) => s"$k=$n" }).mkString("\t")

  final case class Truth(url: String, topic: Int, mentions: Map[String, Int])

  def parseTruth(line: String): Truth = {
    val f = line.split("\t", -1)
    Truth(f(0), f(1).toInt, f.drop(2).filter(_.nonEmpty).map { e =>
      val k = e.lastIndexOf('=')
      e.substring(0, k) -> e.substring(k + 1).toInt
    }.toMap)
  }

  def readTruth(file: File): Seq[Truth] =
    Files.readAllLines(file.toPath, UTF_8).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty).map(parseTruth)

  /** A page as the api and the kernel sample read it. */
  final case class Doc(url: String, title: String, text: String, html: String, lang: String) {
    /** The text after the title: `title + ". " + body == text`. */
    def body: String = text.substring(title.length + 2)
  }

  /** Pages as length-prefixed UTF-8 records, readable without Spark. */
  def writeDocs(file: File, pages: Seq[BenchPage]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(file.toPath)))
    def str(s: String): Unit = { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    try {
      out.writeInt(pages.length)
      pages.foreach { p => str(p.url); str(p.title); str(p.text); str(new String(p.html, UTF_8)); str(p.lang) }
    } finally out.close()
  }

  def readDocs(file: File): IndexedSeq[Doc] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(file.toPath)))
    def str(): String = { val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, UTF_8) }
    try IndexedSeq.fill(in.readInt())(Doc(str(), str(), str(), str(), str())) finally in.close()
  }

  /** Generates `n` items on at most `threads` threads, order preserved. */
  def parallel[T](n: Int, threads: Int)(f: Int => T): IndexedSeq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val chunk = math.max(1, (n + threads * 4 - 1) / (threads * 4))
      val fs = (0 until n by chunk).map(s =>
        Future((s until math.min(n, s + chunk)).map(f)))
      fs.flatMap(Await.result(_, Duration.Inf))
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES); () }
  }

  /** SHA-256 over every regular file under `dir`, in path order. */
  def digest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p)).sortBy(_.toString)
    files.foreach { p =>
      md.update(dir.toPath.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Stage into `dir` once: writes to a temporary sibling, then renames,
    * so a killed staging never leaves a partial input behind.
    */
  def stageOnce(dir: File)(write: File => Unit): Unit =
    if (!new File(dir, "_STAGED").exists()) {
      val tmp = new File(dir.getParentFile, dir.getName + ".tmp")
      Util.deleteRecursively(tmp); Util.deleteRecursively(dir)
      tmp.mkdirs()
      write(tmp)
      Files.writeString(new File(tmp, "_STAGED").toPath, digest(tmp) + "\n")
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
      ()
    }
}
