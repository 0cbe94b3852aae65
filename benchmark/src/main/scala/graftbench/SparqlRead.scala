package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.rdf.{Endpoint, QuadStore, Quads, Sparql, SparqlResults}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Read-only SPARQL over a quad store built from the seeded TPC-H tables:
  * one `Endpoint.query` (results-json) per op, drawn from eleven query
  * shapes (the op kinds) with seeded constants. Every answer is checked
  * against a direct evaluation over the generated rows, outside the
  * engine. */
object SparqlRead {
  /** Seeded queries, each paired with its reference answer (rows of
    * `var=value` cells, or the ASK boolean). */
  final class Gen(seed: Long, t: Data.Tpch) extends OpGen {
    private val r = new Random(seed * 31 + 1)
    val answers = scala.collection.mutable.Map.empty[String, () => Seq[String]]
    private lazy val ordersOf = t.orders.groupBy(_.cust)
    private def cust(k: Long) = t.customers(k.toInt)
    private def region(nation: Int) = Data.Regions(t.nationRegion(nation))
    private def pick[A](xs: Seq[A]) = xs(r.nextInt(xs.size))
    private def someCust() = r.nextInt(t.customers.size).toLong

    val kinds = Seq("star", "chain", "optional", "filter", "group", "union",
      "graph", "path", "closure", "distinct", "ask")
    private val shapes: Vector[() => (String, () => Seq[String])] = Vector(
      () => { // star on a bound customer
        val k = someCust()
        (s"""SELECT ?name ?seg ?nat ?nk WHERE { GRAPH <g:customer> {
            |  <c:$k> <name> ?name . <c:$k> <mktsegment> ?seg .
            |  <c:$k> <nation> ?nat . <c:$k> <nationkey> ?nk . } }""".stripMargin,
          () => { val c = cust(k)
            Seq(s"name=${c.name}|seg=${c.seg}|nat=n:${c.nation}|nk=${c.nation}") })
      },
      () => { // chain order -> customer -> nation -> region
        val p = pick(Data.Priorities); val seg = pick(Data.Segments)
        (s"""SELECT ?o ?rname WHERE {
            |  GRAPH <g:orders> { ?o <orderpriority> "$p" . ?o <custkey> ?c . }
            |  GRAPH <g:customer> { ?c <mktsegment> "$seg" . ?c <nation> ?n . }
            |  ?n <region> ?r . ?r <name> ?rname . }""".stripMargin,
          () => t.orders.filter(o => o.priority == p && cust(o.cust).seg == seg)
            .map(o => s"o=o:${o.key}|rname=${region(cust(o.cust).nation)}"))
      },
      () => { // OPTIONAL
        val k = someCust(); val st = pick(Data.Statuses)
        (s"""SELECT ?o ?pr WHERE { GRAPH <g:orders> { ?o <custkey> "c:$k" .
            |  OPTIONAL { ?o <orderstatus> "$st" . ?o <orderpriority> ?pr . } } }"""
            .stripMargin,
          () => ordersOf.getOrElse(k, Nil).map(o =>
            s"o=o:${o.key}|pr=${if (o.status == st) o.priority else ""}"))
      },
      () => { // numeric FILTER range
        val seg = pick(Data.Segments); val a = r.nextInt(Data.Nations - 3)
        val b = a + 1 + r.nextInt(3)
        (s"""SELECT ?c ?nk WHERE { GRAPH <g:customer> {
            |  ?c <mktsegment> "$seg" . ?c <nationkey> ?nk . }
            |  FILTER (?nk >= $a && ?nk < $b) }""".stripMargin,
          () => t.customers.filter(c => c.seg == seg && c.nation >= a &&
            c.nation < b).map(c => s"c=c:${c.key}|nk=${c.nation}"))
      },
      () => { // GROUP BY COUNT
        val n = r.nextInt(Data.Nations)
        (s"""SELECT ?seg (COUNT(?c) AS ?cnt) WHERE { GRAPH <g:customer> {
            |  ?c <mktsegment> ?seg . ?c <nation> "n:$n" . } }
            |GROUP BY ?seg""".stripMargin,
          () => t.customers.filter(_.nation == n).groupBy(_.seg).toSeq
            .map { case (s, cs) => s"seg=$s|cnt=${cs.size}" })
      },
      () => { // UNION
        val a = r.nextInt(Data.Nations)
        val b = (a + 1 + r.nextInt(Data.Nations - 1)) % Data.Nations
        (s"""SELECT ?c WHERE {
            |  { GRAPH <g:customer> { ?c <nation> "n:$a" . } }
            |  UNION { GRAPH <g:customer> { ?c <nation> "n:$b" . } } }"""
            .stripMargin,
          () => t.customers.filter(c => c.nation == a || c.nation == b)
            .map(c => s"c=c:${c.key}"))
      },
      () => { // GRAPH variable
        val k = someCust()
        (s"""SELECT ?g ?o WHERE { GRAPH ?g { ?o <custkey> "c:$k" . } }""",
          () => ordersOf.getOrElse(k, Nil).map(o => s"g=g:orders|o=o:${o.key}"))
      },
      () => { // sequence path
        val seg = pick(Data.Segments); val nk = r.nextInt(Data.Nations)
        (s"""SELECT ?c ?rn WHERE { GRAPH <g:customer> {
            |  ?c <mktsegment> "$seg" . ?c <nationkey> "$nk" . ?c <nation> ?n . }
            |  ?n <region>/<name> ?rn . }""".stripMargin,
          () => t.customers.filter(c => c.seg == seg && c.nation == nk)
            .map(c => s"c=c:${c.key}|rn=${region(nk)}"))
      },
      () => { // + closure from a seeded node
        val n = r.nextInt(Data.Nations)
        (s"""SELECT ?y WHERE { <n:$n> (<region>/^<region>)+ ?y . }""",
          () => (0 until Data.Nations)
            .filter(m => t.nationRegion(m) == t.nationRegion(n))
            .map(m => s"y=n:$m"))
      },
      () => { // DISTINCT
        val seg = pick(Data.Segments)
        (s"""SELECT DISTINCT ?nat WHERE { GRAPH <g:customer> {
            |  ?c <mktsegment> "$seg" . ?c <nation> ?nat . } }""".stripMargin,
          () => t.customers.filter(_.seg == seg).map(c => s"nat=n:${c.nation}")
            .distinct)
      },
      () => { // ASK
        val k = someCust(); val p = pick(Data.Priorities)
        (s"""ASK WHERE { GRAPH <g:orders> { ?o <custkey> "c:$k" .
            |  ?o <orderpriority> "$p" . } }""".stripMargin,
          () => Seq(ordersOf.getOrElse(k, Nil).exists(_.priority == p).toString))
      })

    // a cycle is every shape twice, each round in a seeded order
    private var deck = List.empty[Int]
    def cycleDone: Boolean = deck.isEmpty

    private def emit(shape: Int): Op = {
      val (text, answer) = shapes(shape)()
      answers.getOrElseUpdate(text, answer)
      Op(kinds(shape), read = true, text)
    }
    def next(): Op = {
      if (deck.isEmpty) deck = List.fill(2)(r.shuffle(shapes.indices.toList)).flatten
      val op = emit(deck.head)
      deck = deck.tail
      op
    }
    def coldKinds: Seq[String] = kinds
    // Two untimed rounds after the cold one: the JIT compiler keeps
    // speeding queries up for about two rounds more, and a window that
    // starts sooner measures how fast a busy host compiles.
    override def warmKinds: Seq[String] =
      Seq.fill(2)(r.shuffle(kinds)).flatten
    def nextOf(kind: String): Op = emit(kinds.indexOf(kind))
  }

  private val json = new ObjectMapper()

  /** A results-json document as sorted `var=value` rows (unbound cells
    * empty), or the ASK boolean. */
  def rows(body: String): Seq[String] = {
    val n = json.readTree(body)
    if (n.has("boolean")) Seq(n.get("boolean").asBoolean.toString)
    else {
      val vars = n.get("head").get("vars").elements.asScala.map(_.asText).toSeq
      n.get("results").get("bindings").elements.asScala.map { b =>
        vars.map(v => s"$v=" + Option(b.get(v)).map(_.get("value").asText)
          .getOrElse("")).mkString("|")
      }.toSeq.sorted
    }
  }
}

final class SparqlRead(spark: SparkSession, tracer: Tracer, seed: Long,
    dir: String, customers: Int, orders: Int) extends Workload {
  val name = "sparql_read"
  private val data = Data.tpch(seed, customers, orders)
  val gen = new SparqlRead.Gen(seed, data)
  private val store = s"$dir/store"
  def roots: Seq[String] = Seq(store)

  def prepare(): Unit = Data.writeTpch(spark, data, s"$dir/input")

  def setup(): Unit = tracer("setup.store") {
    QuadStore.init(Quads.build(spark, s"$dir/input"), store): Unit
  }

  /** Untraced, one `Endpoint.query`. Traced, the same work through the
    * public calls it is made of, so parse, lowering and serialization
    * each get a span. */
  def exec(op: Op): Any =
    if (!tracer.enabled) Endpoint.query(spark, store, op.text, Endpoint.Json)._2
    else {
      val q = tracer("rdf.sparql.parse")(Sparql.parse(op.text))
      val df = tracer("rdf.sparql.lower")(QuadStore.query(spark, store, op.text))
      tracer("rdf.results.serialize") {
        if (q.ask) s"""{"head":{},"boolean":${df.collect()(0).getBoolean(0)}}"""
        else SparqlResults.jsonDocument(df)
      }
    }

  def check(op: Op, result: Any): Boolean =
    SparqlRead.rows(result.asInstanceOf[String]) ==
      gen.answers(op.text)().sorted

  def compactedBytes(): Long = {
    val copy = s"$dir/compacted"
    QuadStore.publish(QuadStore.read(spark, store), copy): Unit
    Runner.du(copy)._2
  }
}
