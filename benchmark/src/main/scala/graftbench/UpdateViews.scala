package graftbench

import graft.rdf.{EncodedMirror, Endpoint, QuadStore, Quads, ViewAnswer, ViewStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.Random

/** Writes beside reads on one quad store that maintains more views than
  * the view store's 8-entry fold cache holds, plus an encoded mirror.
  * Each cycle is three updates (each applied, then synced into every view
  * and the mirror, then compacted and vacuumed when deep), each followed
  * by one read of every kind. The generator keeps the store's content in memory, so deletes always hit
  * live quads and every answer has a reference computed outside the
  * engine. */
object UpdateViews {
  type Quad = (String, String, String, String) // s, p, o, g

  /** The store's live content, indexed by (graph, predicate). */
  final class Model(quads: Iterable[Quad]) {
    val idx = mutable.Map.empty[(String, String), mutable.LinkedHashMap[String, mutable.LinkedHashSet[String]]]
    quads.foreach(add)
    def add(q: Quad): Unit = idx.getOrElseUpdate((q._4, q._2),
      mutable.LinkedHashMap.empty).getOrElseUpdate(q._1,
      mutable.LinkedHashSet.empty) += q._3
    def del(q: Quad): Unit = idx.get((q._4, q._2)).foreach { m =>
      m.get(q._1).foreach { os =>
        os -= q._3
        if (os.isEmpty) m -= q._1
      }
    }
    def objs(g: String, p: String, s: String): Seq[String] =
      idx.get((g, p)).flatMap(_.get(s)).map(_.toSeq).getOrElse(Nil)
    def subjects(g: String, p: String): Seq[String] =
      idx.get((g, p)).map(_.keys.toSeq).getOrElse(Nil)
    def pairs(g: String, p: String): Seq[(String, String)] =
      idx.get((g, p)).map(_.toSeq.flatMap { case (s, os) => os.map(s -> _) })
        .getOrElse(Nil)
  }

  def row(cells: (String, Any)*): String =
    cells.sortBy(_._1).map { case (k, v) => s"$k=${Option(v).getOrElse("")}" }
      .mkString("|")

  /** A maintained view: how to create it, which (graph, predicates) can
    * change it, and its reference answer over the model. */
  final case class View(name: String, graph: String, preds: Set[String],
      create: (SparkSession, String, String) => Unit,
      expected: Model => Seq[String])

  private val C = "g:customer"
  private val O = "g:orders"
  private val D = Quads.DefaultGraph

  private def closure(edges: Seq[(String, String)]): Seq[String] = {
    val out = edges.groupMap(_._1)(_._2)
    out.keys.toSeq.flatMap { x =>
      val seen = mutable.LinkedHashSet.empty[String]
      var frontier = out(x).toList
      while (frontier.nonEmpty) {
        val n = frontier.filterNot(seen).distinct
        seen ++= n
        frontier = n.flatMap(out.getOrElse(_, Nil))
      }
      seen.toSeq.map(y => row("x" -> x, "y" -> y))
    }
  }

  private def sameRegion(m: Model): Seq[(String, String)] = {
    val byRegion = m.pairs(D, "region").groupMap(_._2)(_._1)
    m.pairs(D, "region").flatMap { case (a, r) => byRegion(r).map(a -> _) }
  }

  private def segOf(m: Model, g: String, s: String, seg: String) =
    m.objs(g, "mktsegment", s).contains(seg)

  val views: Seq[View] = Seq(
    View("conj", C, Set("name", "mktsegment"), (sp, st, v) =>
      ViewStore.createFromSparql(sp, st, v, """SELECT * WHERE {
        |  ?cust <name> ?cname . ?cust <mktsegment> "BUILDING" . }""".stripMargin,
        C): Unit,
      m => m.subjects(C, "name").filter(segOf(m, C, _, "BUILDING"))
        .flatMap(s => m.objs(C, "name", s).map(n => row("cust" -> s, "cname" -> n)))),
    View("filtered", C, Set("mktsegment", "nationkey"), (sp, st, v) =>
      ViewStore.createFilteredFromSparql(sp, st, v, """SELECT * WHERE {
        |  ?cust <mktsegment> ?seg . ?cust <nationkey> ?k .
        |  FILTER (?seg = "BUILDING" && ?k > 10) }""".stripMargin, C): Unit,
      m => m.subjects(C, "nationkey").filter(segOf(m, C, _, "BUILDING"))
        .flatMap(s => m.objs(C, "nationkey", s).filter(_.toDouble > 10)
          .map(k => row("cust" -> s, "seg" -> "BUILDING", "k" -> k)))),
    View("optional", C, Set("name", "mktsegment", "nation"), (sp, st, v) =>
      ViewStore.createOptionalFromSparql(sp, st, v, """SELECT * WHERE {
        |  ?cust <name> ?cname . ?cust <mktsegment> "MACHINERY"
        |  OPTIONAL { ?cust <nation> ?nat } }""".stripMargin, C): Unit,
      m => m.subjects(C, "name").filter(segOf(m, C, _, "MACHINERY")).flatMap { s =>
        val nats = m.objs(C, "nation", s)
        m.objs(C, "name", s).flatMap(n =>
          (if (nats.isEmpty) Seq(null) else nats).map(t =>
            row("cust" -> s, "cname" -> n, "nat" -> t)))
      }),
    View("union", C, Set("mktsegment"), (sp, st, v) =>
      ViewStore.createUnionFromSparql(sp, st, v, """SELECT * WHERE {
        |  { ?cust <mktsegment> "BUILDING" }
        |  UNION { ?cust <mktsegment> "MACHINERY" } }""".stripMargin, C): Unit,
      m => m.subjects(C, "mktsegment").filter(s => segOf(m, C, s, "BUILDING") ||
        segOf(m, C, s, "MACHINERY")).map(s => row("cust" -> s))),
    View("orders", O, Set("orderpriority", "custkey"), (sp, st, v) =>
      ViewStore.createFromSparql(sp, st, v, """SELECT * WHERE {
        |  ?o <orderpriority> "1-URGENT" . ?o <custkey> ?c . }""".stripMargin,
        O): Unit,
      m => m.subjects(O, "custkey").filter(m.objs(O, "orderpriority", _)
        .contains("1-URGENT")).flatMap(s => m.objs(O, "custkey", s)
        .map(c => row("o" -> s, "c" -> c)))),
    View("status", O, Set("orderstatus", "orderpriority"), (sp, st, v) =>
      ViewStore.createFromSparql(sp, st, v, """SELECT * WHERE {
        |  ?o <orderstatus> "P" . ?o <orderpriority> ?p . }""".stripMargin,
        O): Unit,
      m => m.subjects(O, "orderpriority").filter(m.objs(O, "orderstatus", _)
        .contains("P")).flatMap(s => m.objs(O, "orderpriority", s)
        .map(p => row("o" -> s, "p" -> p)))),
    View("pathseq", D, Set("region"), (sp, st, v) =>
      ViewStore.createPathSeqFromSparql(sp, st, v,
        "SELECT * WHERE { ?x (<region>/^<region>)+ ?y }"): Unit,
      m => closure(sameRegion(m))),
    View("pathexpr", D, Set("region", "name"), (sp, st, v) =>
      ViewStore.createPathExprFromSparql(sp, st, v,
        "SELECT * WHERE { ?x ((<region>/^<region>)|<name>)+ ?y }"): Unit,
      m => closure(sameRegion(m) ++ m.pairs(D, "name"))),
    View("summary", C, Set("mktsegment", "nationkey"), (sp, st, v) =>
      ViewStore.createAggFromSparql(sp, st, v, v + "_agg", """SELECT ?seg
        |  (COUNT(*) AS ?cnt) WHERE { ?cust <mktsegment> ?seg .
        |  ?cust <nationkey> ?nk . } GROUP BY ?seg""".stripMargin, C): Unit,
      m => summary(m)))

  /** The summary's reference: bindings of (cust, seg, nk) counted per seg. */
  def summary(m: Model): Seq[String] =
    m.subjects(C, "mktsegment").flatMap(s => m.objs(C, "mktsegment", s)
      .map(_ -> m.objs(C, "nationkey", s).size)).groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.filter(_._2 > 0).map { case (seg, n) => row("seg" -> seg, "cnt" -> n) }

  /** The predicates an update on each graph writes: together they touch
    * every view over that graph. */
  private val predsOf = Map(
    C -> Vector("mktsegment", "name", "nationkey"),
    O -> Vector("custkey", "orderpriority", "orderstatus"),
    D -> Vector("name", "region"))

  val ReadKinds =
    Seq("view_read", "view_answer", "summary_answer", "store_query", "mirror_query")

  private val Forms = Seq("insert", "delete_data", "delete_where")

  /** The op stream: cycles of three updates, each followed by one read of
    * every kind, so that the median read lies among the samples of one
    * kind. A cycle updates `g:orders`, `g:customer` and the default graph
    * in turn, each with another form (INSERT DATA, DELETE DATA, DELETE
    * WHERE); the next cycle shifts the forms by one, so three cycles hold
    * all nine pairs. The schedule is fixed, so every run measures the
    * same mix; the seed draws subjects, values and update sizes. Set-up
    * runs a cold op of every read kind but no cold update: the first
    * update is measured cold, as it costs about as much as a warm one
    * and a cold update would add some 12 s to every run. `model` tracks
    * the store through every update the stream has emitted; the first or
    * second update, by seed, is followed by a checkpoint. */
  final class Gen(seed: Long, t: Data.Tpch) extends OpGen {
    private val r = new Random(seed * 31 + 2)
    val model = new Model(initialQuads(t))
    val coldKinds: Seq[String] = ReadKinds
    /** Reference answer of each read op (by identity). */
    val expected = new java.util.IdentityHashMap[Op, Seq[String]]()
    private var fresh = 0
    private var pos = 0
    private var updates = 0
    private var viewReads = 0
    private val checkpointAt = r.nextInt(2)
    private def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))

    private val cycle = Seq.fill(3)("update" +: ReadKinds).flatten
    def cycleDone: Boolean = pos % cycle.size == 0
    def next(): Op = {
      pos += 1
      cycle((pos - 1) % cycle.size) match {
        case "update" =>
          val k = updates
          updates += 1
          update(Seq(O, C, D)(k % 3), Forms((k % 3 + k / 3) % 3),
            checkpoint = k == checkpointAt)
        case kind => nextOf(kind)
      }
    }

    /** One read of `kind`. */
    def nextOf(kind: String): Op = {
      val (text, exp) = kind match {
        case "view_read" =>
          val v = views(viewReads % views.size)
          viewReads += 1
          (s"view_read ${v.name}", v.expected(model))
        case "view_answer" =>
          val n = r.nextInt(Data.Nations)
          (s"""SELECT ?cust ?cname WHERE { ?cust <name> ?cname .
              |  ?cust <mktsegment> "BUILDING" . ?cust <nation> "n:$n" . }"""
              .stripMargin,
            model.subjects(C, "name").filter(s => segOf(model, C, s, "BUILDING") &&
              model.objs(C, "nation", s).contains(s"n:$n"))
              .flatMap(s => model.objs(C, "name", s).map(nm =>
                row("cust" -> s, "cname" -> nm))))
        case "summary_answer" =>
          ("""SELECT ?seg (COUNT(*) AS ?cnt) WHERE { ?c <mktsegment> ?seg .
             |  ?c <nationkey> ?k . } GROUP BY ?seg""".stripMargin,
            summary(model))
        case "store_query" =>
          val s = pick(model.subjects(C, "name"))
          (s"""SELECT ?p ?o WHERE { GRAPH <g:customer> { <$s> ?p ?o . } }""",
            Seq("name", "mktsegment", "nation", "nationkey").flatMap(p =>
              model.objs(C, p, s).map(o => row("p" -> p, "o" -> o))))
        case "mirror_query" =>
          val s = pick(model.subjects(O, "custkey"))
          (s"""SELECT ?p ?o WHERE { GRAPH <g:orders> { <$s> ?p ?o . } }""",
            predsOf(O).flatMap(p => model.objs(O, p, s).map(o =>
              row("p" -> p, "o" -> o))))
      }
      val op = Op(kind, read = true, text)
      expected.put(op, exp)
      op
    }

    private def update(g: String, form: String, checkpoint: Boolean): Op = {
      val preds = predsOf(g)
      // sizes vary within a narrow band: an update far smaller than the
      // others touches fewer views and would split the runs into groups
      val n = 20 + r.nextInt(11)
      val wrap = (body: Seq[Quad]) => {
        val lines = body.map { case (s, p, o, _) => s"""<$s> <$p> "$o" .""" }
          .mkString("\n  ")
        if (g == D) s"{ $lines }" else s"{ GRAPH <$g> { $lines } }"
      }
      val (text, touched) = form match {
        case "insert" =>
          val qs = Iterator.continually {
            fresh += 1
            val s = g match { case C => s"c:z$fresh"; case O => s"o:z$fresh"
              case _ => s"n:z$fresh" }
            preds.map(p => (s, p, value(g, p), g))
          }.flatten.take(n).toSeq
          qs.foreach(model.add)
          (s"INSERT DATA ${wrap(qs)}", qs)
        case "delete_data" =>
          val live = preds.flatMap(p => model.pairs(g, p).map { case (s, o) =>
            (s, p, o, g) })
          val qs = r.shuffle(live).take(n)
          qs.foreach(model.del)
          (s"DELETE DATA ${wrap(qs)}", qs)
        case _ =>
          // one operation: the first predicate carries a seeded live object
          // and the others are unbound; the subject is bound as well when
          // the pattern would match more than 50 quads
          val subjects = preds.map(model.subjects(g, _).toSet).reduce(_ & _)
            .toSeq.sorted
          val s0 = pick(subjects)
          val o0 = pick(model.objs(g, preds.head, s0))
          def quads(ss: Seq[String]) = ss.flatMap(s => (s, preds.head, o0, g) +:
            preds.tail.flatMap(p => model.objs(g, p, s).map(o => (s, p, o, g))))
          val wide = quads(subjects.filter(model.objs(g, preds.head, _).contains(o0)))
          val (subj, qs) =
            if (wide.size <= 50) ("?s", wide) else (s"<$s0>", quads(Seq(s0)))
          qs.foreach(model.del)
          val pats = (s"""$subj <${preds.head}> "$o0" .""" +:
            preds.tail.zipWithIndex.map { case (p, i) => s"$subj <$p> ?v$i ." })
            .mkString(" ")
          (if (g == D) s"DELETE WHERE { $pats }"
           else s"DELETE WHERE { GRAPH <$g> { $pats } }", qs)
      }
      val tags = Seq(s"graph=$g", s"form=$form") ++ preds.map("pred=" + _) ++
        Seq(s"quads=${touched.size}") ++
        (if (checkpoint) Seq("checkpoint") else Nil)
      Op("update", read = false, text + tags.mkString("\n# ", " ", ""))
    }

    private def value(g: String, p: String): String = (g, p) match {
      case (_, "name") if g == D => s"ZNATION_$fresh"
      case (_, "name") => s"Customer#z$fresh"
      case (_, "mktsegment") => pick(Data.Segments)
      case (_, "nation") => s"n:${r.nextInt(Data.Nations)}"
      case (_, "nationkey") => r.nextInt(Data.Nations).toString
      case (_, "custkey") => s"c:${r.nextInt(t.customers.size)}"
      case (_, "orderstatus") => pick(Data.Statuses)
      case (_, "orderpriority") => pick(Data.Priorities)
      case (_, "region") => s"r:${r.nextInt(Data.Regions.size)}"
    }
  }

  /** The quads `rdf.Quads.build` derives from `t`. */
  def initialQuads(t: Data.Tpch): Seq[Quad] =
    t.customers.flatMap(c => Seq(("name", c.name), ("mktsegment", c.seg),
      ("nation", s"n:${c.nation}"), ("nationkey", c.nation.toString))
      .map { case (p, o) => (s"c:${c.key}", p, o, C) }) ++
    t.orders.flatMap(o => Seq(("custkey", s"c:${o.cust}"),
      ("orderstatus", o.status), ("orderpriority", o.priority))
      .map { case (p, v) => (s"o:${o.key}", p, v, O) }) ++
    t.nationRegion.zipWithIndex.flatMap { case (r, n) =>
      Seq((s"n:$n", "name", s"NATION_$n", D), (s"n:$n", "region", s"r:$r", D)) } ++
    Data.Regions.zipWithIndex.map { case (nm, k) => (s"r:$k", "name", nm, D) }

  /** Sorted `col=value` rows of a frame, every cell as a string. */
  def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq
    df.collect().toSeq.map(r => row(cols.zipWithIndex.map { case (c, i) =>
      c -> Option(r.get(i)).map(_.toString).orNull }: _*)).sorted
  }
}

final class UpdateViews(spark: SparkSession, tracer: Tracer, seed: Long,
    dir: String, customers: Int, orders: Int) extends Workload {
  import UpdateViews._
  val name = "rdf_update_views"
  private val data = Data.tpch(seed, customers, orders)
  val gen = new Gen(seed, data)
  private val store = s"$dir/store"
  private val mirror = s"$dir/mirror"
  private def root(v: View) = s"$dir/views/${v.name}"
  private val summaryView = views.find(_.name == "summary").get
  private val agg = root(summaryView) + "_agg"
  def roots: Seq[String] = Seq(store, mirror, s"$dir/views")

  def prepare(): Unit = Data.writeTpch(spark, data, s"$dir/input")

  def setup(): Unit = {
    tracer("setup.store")(
      QuadStore.init(Quads.build(spark, s"$dir/input"), store): Unit)
    tracer("setup.views")(views.foreach(v => v.create(spark, store, root(v))))
    tracer("setup.mirror")(EncodedMirror.sync(spark, store, mirror): Unit)
  }

  /** An update's text ends in one `# ` line of tags. */
  private def tags(op: Op): Seq[String] =
    op.text.linesIterator.filter(_.startsWith("# "))
      .flatMap(_.drop(2).split(" ")).toSeq
  private def tag(op: Op, key: String): Seq[String] =
    tags(op).filter(_.startsWith(key + "=")).map(_.drop(key.length + 1))

  /** The op latency of an update runs until the change is visible in
    * every view and the mirror, compaction and vacuum included. */
  def exec(op: Op): Any = op.kind match {
    case "update" =>
      val g = tag(op, "graph").headOption.getOrElse("")
      val preds = tag(op, "pred").toSet
      val text = op.text.linesIterator.filterNot(_.startsWith("# ")).mkString("\n")
      val v = tracer("rdf.quadstore.update")(Endpoint.update(spark, store, text))
      if (tracer.enabled) tracer.count("rdf.quadstore.bytes_written",
        Runner.du(f"$store/d$v%05d")._2.toDouble)
      views.foreach { view =>
        val kind =
          if (view.name == "pathexpr") "pathexpr"
          else if (view.graph == g && (view.preds & preds).nonEmpty) "relevant"
          else "irrelevant"
        tracer(s"rdf.viewstore.sync_$kind") {
          ViewStore.sync(spark, store, root(view))
          if (view eq summaryView) ViewStore.syncAgg(spark, root(view), agg)
        }
      }
      tracer("rdf.mirror.sync")(EncodedMirror.sync(spark, store, mirror))
      tracer("rdf.viewstore.compact") {
        ViewStore.compactAggIfDeep(spark, agg, maxChain = 6)
        views.foreach(view => ViewStore.compactIfDeep(spark, root(view), maxChain = 6))
      }
      tracer("rdf.mirror.compact") {
        if (EncodedMirror.segmentCount(mirror) > 6) EncodedMirror.compact(spark, mirror)
      }
      tracer("rdf.quadstore.vacuum")(QuadStore.vacuumIfDeep(store, keep = 2))
      v
    case "view_read" =>
      val v = views.find(_.name == op.text.split(" ")(1)).get
      tracer("rdf.viewstore.read")(rows(
        if (v eq summaryView) ViewStore.readAgg(spark, agg)
        else ViewStore.read(spark, root(v))))
    case "view_answer" =>
      tracer("rdf.viewanswer.answer")(rows(ViewAnswer.answerSparql(spark, store,
        Seq(root(views.head)), op.text, "g:customer")))
    case "summary_answer" =>
      tracer("rdf.viewanswer.answer")(rows(ViewAnswer.answerAggSparql(spark,
        store, root(summaryView), agg, op.text, "g:customer")))
    case "store_query" =>
      tracer("rdf.quadstore.query")(rows(QuadStore.query(spark, store, op.text)))
    case "mirror_query" =>
      tracer("rdf.mirror.query")(rows(EncodedMirror.query(spark, mirror, op.text)))
  }

  def check(op: Op, result: Any): Boolean =
    op.kind == "update" || result == gen.expected.get(op).sorted

  private var updatedSinceCheck = true

  /** Every view against the reference over the store head, after the
    * marked update and at run end (unless no update ran since). */
  override def checkpoint(after: Op, end: Boolean): Int = {
    if (after.kind == "update") updatedSinceCheck = true
    if (!updatedSinceCheck || !(end || tags(after).contains("checkpoint"))) 0
    else {
      updatedSinceCheck = false
      checkViews()
    }
  }

  private def checkViews(): Int =
    views.count { v =>
      val got = rows(if (v eq summaryView) ViewStore.readAgg(spark, agg)
        else ViewStore.read(spark, root(v)))
      val ok = got == v.expected(gen.model).sorted
      if (!ok) System.err.println(s"[graftbench] view ${v.name} differs from " +
        s"its recompute: ${got.size} rows, expected ${v.expected(gen.model).size}")
      !ok
    }

  override def gauges(): Map[String, Double] = Map(
    "rdf.quadstore.chain_length" -> QuadStore.chainLength(store).toDouble,
    "rdf.viewstore.segments" -> (views.map(v => ViewStore.segmentCount(root(v))).sum +
      ViewStore.segmentCount(agg)).toDouble)

  /** A compacted copy: the store head as one base, every view and the
    * summary as one plain file set, the mirror folded to one base. */
  def compactedBytes(): Long = {
    val copy = s"$dir/compacted"
    QuadStore.publish(QuadStore.read(spark, store), s"$copy/store"): Unit
    views.foreach(v => ViewStore.read(spark, root(v)).write.parquet(s"$copy/${v.name}"))
    ViewStore.readAgg(spark, agg).write.parquet(s"$copy/agg")
    EncodedMirror.encoded(spark, mirror).write.parquet(s"$copy/mirror")
    EncodedMirror.dict(spark, mirror).write.parquet(s"$copy/dict")
    Runner.du(copy)._2
  }
}
