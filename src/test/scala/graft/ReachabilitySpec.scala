package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Every named method of a `src/main` object is reached from an entry point,
 * or sits on [[ReachabilitySpec.allowed]] with its reason. Code that only
 * the specs call is a reference implementation (it belongs in `src/test`)
 * or dead (it goes, with the cases that test only it).
 *
 * The walk reads the compiled main classes with ASM; it loads none of them
 * (only, uninitialized, the library types they extend) and starts no Spark
 * session. From the roots ([[ReachabilitySpec.entryPoints]]
 * and every `main`) it follows calls, lambda handles and field reads.
 *  - A call on a main type reaches the method it resolves to and every
 *    override in the main subtypes (class-hierarchy analysis).
 *  - Touching a class (a call, a field, `new`, `classOf`) runs its static
 *    initializer: an object's body, where a query family registers its
 *    `$anonfun$new$N` plan lambdas.
 *  - A method that overrides one declared outside `src/main` (a
 *    `SparkListener` callback, an optimizer `Rule.apply`, `toString`) is
 *    called by the framework: it is reached once its class is touched, and
 *    is never reported.
 *  - An object `val` is reached by reading its static field or calling its
 *    accessor; a constant-folded `final val` always is.
 *  - A case-class companion's `apply`/`unapply` are compiler-made, and
 *    calls to them compile to `new` and field reads: never reported.
 *
 * To keep a method that nothing reaches (code a later change wires in), add
 * its name to [[ReachabilitySpec.allowed]] with the reason; an entry whose
 * method is reached or gone fails the spec, so the list cannot go stale.
 */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val graph = new CallGraph(mainClasses())

  test("every named object method in src/main is reached from an entry point") {
    val unreached = graph.unreached
    val report = (unreached -- allowed.keySet).toSeq.sorted
    if (report.nonEmpty) fail(report.mkString(
      s"${report.size} object methods no entry point reaches; wire them, move a " +
        "reference implementation to src/test, delete them, or allow-list one with " +
        "its reason:\n  ", "\n  ", ""))
    val stale = (allowed.keySet -- unreached).toSeq.sorted
    if (stale.nonEmpty) fail(s"allow-listed but reached or gone (drop the entry): $stale")
  }

  test("the allow-list is short and gives every entry a reason") {
    assert(allowed.size <= 6, allowed.keys)
    allowed.foreach { case (m, why) => assert(why.trim.nonEmpty, m) }
  }

  test("the walk follows lambdas, object bodies and framework overrides") {
    val reached = graph.objectMethods.collect { case (n, true) => n }.toSet
    Seq(
      // only query plan lambdas call it, registered in ExtendedQueries' body
      "graft.graph.Scc.stronglyConnected",
      // the optimizer rule Spark calls through Rule.apply
      "graft.plans.BoundedLevenshtein.IntLit.unapply",
      // an object val read as a static field inside its object
      "graft.LoopConf.RowsPerTask"
    ).foreach(m => assert(reached(m), m))
  }
}

object ReachabilitySpec {

  /** Methods no entry point reaches that stay, each with its reason. */
  val allowed: Map[String, String] = Map(
    "graft.Pipeline.publishCurated" ->
      ("audit-gated publish of adressen; ImportBag moves to it in a benchmark change, " +
        "because it changes what Pipeline.openWarehouse reads"),
    "graft.relational.Versioned.commitAudited" ->
      "the WAP commit under Pipeline.publishCurated",
    "graft.relational.Versioned.rollback" ->
      "the way back from a published version; part of the publishCurated chain",
    "graft.Validate.auditColumns" ->
      "the audits Pipeline.publishCurated gates its commit on",
    "graft.Pipeline.materializeBucketed" ->
      "the bucketed raw layout, kept until a BAGBENCH run at 1M addresses settles it",
    "graft.Pipeline.registerViews" ->
      "the reference's SQL-by-table-name surface; the readme acceptance query runs on it")

  /** Roots besides every `main`: what the benchmark harness
    * (perfbench/harness) compiles against, the driver's query contract and
    * the session extension Spark loads by class name. A name is a method of
    * an object, or a class (all of its methods and its companion's). */
  val entryPoints: Seq[String] = Seq(
    "graft.BagScaleProbe.generate", "graft.BagScaleProbe.Shape", "graft.Config",
    "graft.ingest.BagZip.stage",
    "graft.Pipeline.rawTables", "graft.Pipeline.materialize",
    "graft.Pipeline.export", "graft.Pipeline.openWarehouse",
    "graft.curate.Adressen.curated", "graft.curate.Adressen.releaseCaches",
    "graft.curate.Adressen.BagTables",
    "graft.Validate.run", "graft.Validate.errorCount", "graft.Validate.Thresholds",
    "graft.queries.Queries.all", "graft.SessionResources.release",
    "graft.SparkEntry", "graft.functions.GraftExtensions")

  /** The compiled main classes, from the directory that holds them. */
  def mainClasses(): Map[String, ClassNode] = {
    val anchor = "graft/Sessions.class"
    val url = getClass.getClassLoader.getResource(anchor)
    require(url != null && url.getProtocol == "file", s"main classes not found as files: $url")
    val root = Paths.get(url.toURI).getParent.getParent
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".class")).map(read).map(c => c.name -> c).toMap
    finally files.close()
  }

  private def read(p: Path): ClassNode = {
    val c = new ClassNode()
    new ClassReader(Files.readAllBytes(p)).accept(c, ClassReader.SKIP_FRAMES)
    c
  }

  /** `graft/curate/Adressen$BagTables` for `graft.curate.Adressen.BagTables`. */
  def internalName(scalaName: String): String = {
    val (pkg, cls) = scalaName.split('.').toSeq.span(s => s.head.isLower)
    (pkg :+ cls.mkString("$")).mkString("/")
  }

  /** `graft.curate.Adressen` for `graft/curate/Adressen$`. */
  def scalaName(internal: String): String = internal.stripSuffix("$").replace('/', '.').replace('$', '.')

  private type M = (String, String, String) // owner, name, descriptor

  final class CallGraph(classes: Map[String, ClassNode]) {
    private def methods(c: String): Seq[MethodNode] =
      classes.get(c).fold(Seq.empty[MethodNode])(_.methods.asScala.toSeq)
    private def supers(c: ClassNode): Seq[String] = Option(c.superName).toSeq ++ c.interfaces.asScala
    private def isStatic(m: MethodNode) = (m.access & Opcodes.ACC_STATIC) != 0
    private def isModule(c: ClassNode) =
      c.name.endsWith("$") && c.fields.asScala.exists(_.name == "MODULE$")

    private val subtypes: Map[String, Seq[String]] =
      classes.values.toSeq.flatMap(c => supers(c).map(_ -> c.name)).groupMap(_._1)(_._2)

    private val libraryMethods = mutable.Map[String, Set[(String, String)]]()

    /** (name, descriptor) of every instance method a class outside
      * `src/main` declares or inherits. */
    private def declaredByLibrary(c: String): Set[(String, String)] =
      libraryMethods.getOrElseUpdate(c, {
        val cls = Class.forName(c.replace('/', '.'), false, getClass.getClassLoader)
        def all(k: Class[_]): Seq[java.lang.reflect.Method] =
          if (k == null) Nil
          else k.getDeclaredMethods.toSeq ++ all(k.getSuperclass) ++ k.getInterfaces.flatMap(all)
        all(cls).filterNot(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
          .map(m => m.getName -> Type.getMethodDescriptor(m)).toSet
      })

    /** Does `m` of class `c` override a method declared outside `src/main`? */
    private def overridesLibrary(c: ClassNode, m: MethodNode): Boolean = {
      def up(name: String): Boolean = classes.get(name) match {
        case Some(k) => supers(k).exists(up)
        case None => declaredByLibrary(name)((m.name, m.desc))
      }
      !isStatic(m) && m.name != "<init>" && supers(c).exists(up)
    }

    private val reached = mutable.Set[M]()
    private val touched = mutable.Set[String]()
    private val work = mutable.Stack[M]()

    private def reach(m: M): Unit =
      if (methods(m._1).exists(n => n.name == m._2 && n.desc == m._3) && reached.add(m)) work.push(m)

    /** A class in use: its static initializer runs, its supertypes are in
      * use, and the framework may call its library overrides. */
    private def touch(c: String): Unit = classes.get(c).foreach { cn =>
      if (touched.add(c)) {
        reach((c, "<clinit>", "()V"))
        supers(cn).foreach(touch)
        cn.methods.asScala.filter(overridesLibrary(cn, _)).foreach(m => reach((c, m.name, m.desc)))
      }
    }

    /** The main class whose `name desc` a call on `owner` runs, walking up. */
    private def resolve(owner: String, name: String, desc: String): Option[String] =
      classes.get(owner).flatMap { c =>
        if (c.methods.asScala.exists(m => m.name == name && m.desc == desc)) Some(owner)
        else supers(c).iterator.map(resolve(_, name, desc)).collectFirst { case Some(o) => o }
      }

    private def call(owner: String, name: String, desc: String, virtual: Boolean): Unit = {
      touch(owner)
      resolve(owner, name, desc).foreach(o => reach((o, name, desc)))
      if (virtual) {
        val seen = mutable.Set[String]()
        def down(c: String): Unit = subtypes.getOrElse(c, Nil).foreach { s =>
          if (seen.add(s)) { reach((s, name, desc)); down(s) }
        }
        down(owner)
      }
    }

    private def handle(h: Handle): Unit = call(h.getOwner, h.getName, h.getDesc,
      virtual = h.getTag == Opcodes.H_INVOKEVIRTUAL || h.getTag == Opcodes.H_INVOKEINTERFACE)

    private def constant(v: Any): Unit = v match {
      case t: Type if t.getSort == Type.OBJECT => touch(t.getInternalName)
      case h: Handle => handle(h)
      case _ =>
    }

    private def visit(m: M): Unit = methods(m._1).find(n => n.name == m._2 && n.desc == m._3)
      .foreach(_.instructions.iterator.asScala.foreach {
        case i: MethodInsnNode => call(i.owner, i.name, i.desc,
          virtual = i.getOpcode == Opcodes.INVOKEVIRTUAL || i.getOpcode == Opcodes.INVOKEINTERFACE)
        case i: FieldInsnNode =>
          touch(i.owner)
          if (i.getOpcode == Opcodes.GETSTATIC || i.getOpcode == Opcodes.GETFIELD)
            resolve(i.owner, i.name, "()" + i.desc).foreach(o => reach((o, i.name, "()" + i.desc)))
        case i: TypeInsnNode if i.getOpcode == Opcodes.NEW => touch(i.desc)
        case i: LdcInsnNode => constant(i.cst)
        case i: InvokeDynamicInsnNode => i.bsmArgs.foreach(constant)
        case _ =>
      })

    private def run(roots: Seq[M], classRoots: Seq[String]): Unit = {
      classRoots.foreach { c =>
        touch(c)
        methods(c).foreach(m => reach((c, m.name, m.desc)))
      }
      roots.foreach { m => touch(m._1); reach(m) }
      while (work.nonEmpty) visit(work.pop())
    }

    locally {
      val mains = classes.values.toSeq.filter(isModule).flatMap(c =>
        c.methods.asScala.filter(m => m.name == "main" && m.desc == "([Ljava/lang/String;)V")
          .map(m => (c.name, m.name, m.desc)))
      val (classRoots, methodRoots) = entryPoints.partition { n =>
        val c = internalName(n)
        classes.contains(c) || classes.contains(c + "$")
      }
      val roots = methodRoots.flatMap { n =>
        val owner = internalName(n.take(n.lastIndexOf('.'))) + "$"
        val name = n.drop(n.lastIndexOf('.') + 1)
        val found = methods(owner).filter(_.name == name).map(m => (owner, name, m.desc))
        require(found.nonEmpty, s"entry point $n not found")
        found
      }
      run(mains ++ roots, classRoots.flatMap(n => Seq(internalName(n), internalName(n) + "$")))
    }

    /** A method the source names: not compiler-made, not an override the
      * framework calls, not a case-class companion's `apply`/`unapply`, not
      * a constant-folded `final val`. */
    private def named(c: ClassNode, m: MethodNode): Boolean = {
      val synthetic = (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) != 0
      // a case class declares productPrefix, also when a supertype makes it a Product
      val caseCompanion = methods(c.name.stripSuffix("$")).exists(_.name == "productPrefix")
      // a constant-folded `final val` keeps only an accessor that returns the constant
      val constant = m.desc.startsWith("()") &&
        (m.instructions.iterator.asScala.map(_.getOpcode).filter(_ >= 0).toSeq match {
          case Seq(load, ret) => load <= Opcodes.LDC && ret >= Opcodes.IRETURN && ret <= Opcodes.ARETURN
          case _ => false
        })
      !m.name.contains('$') && !m.name.startsWith("<") && !synthetic && !constant &&
        !Set("writeReplace", "readResolve")(m.name) &&
        !(caseCompanion && Set("apply", "unapply")(m.name)) && !overridesLibrary(c, m)
    }

    /** Each named object method, as `graft.Pipeline.publishCurated`, and
      * whether a root reaches it (an overload counts on its own). */
    val objectMethods: Seq[(String, Boolean)] =
      classes.values.toSeq.filter(isModule).flatMap(c => c.methods.asScala.filter(named(c, _))
        .map(m => s"${scalaName(c.name)}.${m.name}" -> reached((c.name, m.name, m.desc))))

    def unreached: Set[String] = objectMethods.collect { case (n, false) => n }.toSet
  }
}
