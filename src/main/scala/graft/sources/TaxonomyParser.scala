package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.{ZipEntry, ZipInputStream}
import scala.collection.mutable
import scala.xml.{Elem, Node, XML}

import graft.xbrl.{Calculation, Concept, LinkRole, Names, Taxonomy}

/** Taxonomy parser (SURVEY.md §2.2 `xbrl_taxonomy`).
  *
  * Parses the raw XSD + linkbase files inside a FERC taxonomy archive into
  * the LinkRole/Concept tree the schema deriver consumes — the same
  * structure the reference obtains through Arelle's parent-child
  * relationship view (taxonomy.py:218-262, arelle_interface.py:16-36):
  *
  *  - `xs:element` declarations -> concepts (name, item type, periodType,
  *    balance), keyed by their `id` attribute (what linkbase locators
  *    reference as `#fragment`).
  *  - `link:roleType` -> role URI -> definition string ("NNN - Schedule -
  *    Title", the table-name source).
  *  - presentation linkbases (`*_pre.xml`) -> per-role concept DAG
  *    (parent-child arcs ordered by `order`).
  *  - label linkbases -> standard label + documentation per concept.
  *  - calculation linkbases -> summation-item weights per concept
  *    (arelle_interface.py:149-163).
  *  - reference linkbases -> named reference parts per concept, flattened
  *    exactly like arelle_interface.py:122-147.
  *
  * This runs on the driver: a taxonomy is schema metadata (a few MB —
  * proportional to the number of CONCEPTS, not the number of filings), so
  * parsing it centrally costs nothing at 100 TB while keeping the derived
  * schemas available to plan every distributed job. An archive's
  * versions parse concurrently, one per driver core at most.
  */
object TaxonomyParser {

  private case class ElementDecl(
      id: String,
      name: String,
      typeName: String,
      periodType: String,
      balance: Option[String],
      abstractFlag: Boolean)

  private case class Arc(from: String, to: String, order: Double, seq: Int)

  /** XBRL/XSD item types -> reference base types (XBRLType.base,
    * taxonomy.py:33-35). Mirrors arelle's baseXsdType resolution for the
    * standard type library (which lives at xbrl.org, outside the
    * archive).
    */
  private val BuiltinBases: Map[String, String] = Map(
    "stringItemType" -> "string", "normalizedStringItemType" -> "string",
    "tokenItemType" -> "string", "token" -> "string", "string" -> "string",
    "QNameItemType" -> "string", "anyURIItemType" -> "string",
    "domainItemType" -> "string", "textBlockItemType" -> "string",
    "escapedItemType" -> "string",
    "monetaryItemType" -> "decimal", "decimalItemType" -> "decimal",
    "sharesItemType" -> "decimal", "pureItemType" -> "decimal",
    "percentItemType" -> "decimal", "energyItemType" -> "decimal",
    "powerItemType" -> "decimal", "perShareItemType" -> "decimal",
    "perUnitItemType" -> "decimal", "lengthItemType" -> "decimal",
    "massItemType" -> "decimal", "volumeItemType" -> "decimal",
    "areaItemType" -> "decimal", "decimal" -> "decimal",
    "float" -> "decimal", "double" -> "decimal",
    "integerItemType" -> "integer", "intItemType" -> "integer",
    "longItemType" -> "integer", "shortItemType" -> "integer",
    "byteItemType" -> "integer", "nonNegativeIntegerItemType" -> "integer",
    "positiveIntegerItemType" -> "integer", "integer" -> "integer",
    "int" -> "integer", "long" -> "integer",
    "booleanItemType" -> "boolean", "boolean" -> "boolean",
    "dateItemType" -> "date", "date" -> "date", "dateTimeItemType" -> "date",
    "gYearItemType" -> "gyear", "gYear" -> "gyear",
    "durationItemType" -> "duration", "duration" -> "duration")

  /** Parse every `form-*.zip` version inside a taxonomies archive.
    * Returns versions sorted ascending (the merge order used by
    * Datapackage.from_taxonomies, datapackage.py:500).
    *
    * The inner archives are read first, then parsed concurrently on the
    * global execution context (as many at once as there are cores):
    * [[parseVersion]] keeps only local state. A version that fails
    * throws its own exception, the first in name order, as a sequential
    * parse would.
    */
  def parseArchive(path: String): Seq[Taxonomy] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.jdk.CollectionConverters._
    val outer = new java.util.zip.ZipFile(path)
    val versions =
      try outer.entries().asScala.toSeq.filter(_.getName.endsWith(".zip")).sortBy(_.getName)
        .map(e => e.getName -> outer.getInputStream(e).readAllBytes())
      finally outer.close()
    implicit val ec: ExecutionContext = ExecutionContext.global
    // every outcome is a value, fatal errors included, so no failure
    // leaves a future uncompleted
    val parsed = Future.traverse(versions) { case (name, bytes) =>
      Future(try Right(parseVersion(name, bytes)) catch { case e: Throwable => Left(e) })
    }
    Await.result(parsed, scala.concurrent.duration.Duration.Inf).map(_.fold(e => throw e, t => t))
  }

  /** Parse one taxonomy version from its (inner) zip bytes. */
  def parseVersion(version: String, zipBytes: Array[Byte]): Taxonomy = {
    val files = readZip(zipBytes)
    val xsds = files.filter(_._1.endsWith(".xsd"))
    val linkbases = files.filter(_._1.endsWith(".xml"))

    // --- XSD pass: element declarations, role definitions, custom types
    val elements = mutable.Map.empty[String, ElementDecl]
    val roleDefs = mutable.Map.empty[String, String]
    val customTypeBase = mutable.Map.empty[String, String]
    for ((_, bytes) <- xsds; root <- loadXml(bytes)) {
      for (el <- (root \\ "element") if el.namespace == XsNs) {
        val id = attr(el, "id")
        if (id.nonEmpty)
          elements(id) = ElementDecl(
            id = id,
            name = attr(el, "name"),
            typeName = attr(el, "type"),
            periodType = attrNs(el, XbrliNs, "periodType").getOrElse("duration"),
            balance = attrNs(el, XbrliNs, "balance"),
            abstractFlag = attr(el, "abstract") == "true")
      }
      for (rt <- root \\ "roleType") {
        val uri = attr(rt, "roleURI")
        val definition = (rt \ "definition").text
        if (uri.nonEmpty && definition.nonEmpty) roleDefs(uri) = definition
      }
      for (ct <- (root \\ "complexType") ++ (root \\ "simpleType")) {
        val name = attr(ct, "name")
        val base = (ct \\ "restriction").headOption.map(attr(_, "base"))
          .orElse((ct \\ "extension").headOption.map(attr(_, "base")))
        (name, base) match {
          case (n, Some(b)) if n.nonEmpty && b.nonEmpty => customTypeBase(n) = b
          case _ => ()
        }
      }
    }

    // --- linkbase passes
    // per role: concept ids in first-appearance order + concept-level arcs
    // (loc labels are LOCAL to each extended link element, so arcs are
    // resolved to concept ids before merging links across files)
    val presentation = mutable.Map.empty[String, (mutable.LinkedHashMap[String, Unit], mutable.ArrayBuffer[Arc])]
    val labels = mutable.Map.empty[String, String] // conceptId -> standard label
    val docs = mutable.Map.empty[String, String] // conceptId -> documentation
    // conceptId -> role URI -> text (ALL roles, first-wins per role)
    val allLabels = mutable.Map.empty[String, mutable.LinkedHashMap[String, String]]
    val calcs = mutable.Map.empty[String, mutable.LinkedHashMap[(String, Double), Unit]]
    val refs = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Seq[(String, String)])]]

    for ((_, bytes) <- linkbases; root <- loadXml(bytes)) {
      if (root.label == "linkbase") {
        for (plink <- root \ "presentationLink") {
          val role = attrNs(plink, XlinkNs, "role").getOrElse("")
          val (concepts, arcs) = presentation.getOrElseUpdate(
            role, (mutable.LinkedHashMap.empty, mutable.ArrayBuffer.empty))
          val locs = locsOf(plink)
          for (loc <- plink \ "loc"; label <- attrNs(loc, XlinkNs, "label"))
            locs.get(label).foreach(cid => concepts.getOrElseUpdate(cid, ()))
          // only parent-child arcs define the concept tree (the reference
          // views XbrlConst.parentChild; FERC also ships schedule-form
          // arcs in the same links, which must NOT become tree edges)
          for (arc <- plink \ "presentationArc"
               if attr(arc, "use") != "prohibited" &&
                 attrNs(arc, XlinkNs, "arcrole").contains(ParentChildArcrole)) {
            val from = locs.getOrElse(attrNs(arc, XlinkNs, "from").getOrElse(""), "")
            val to = locs.getOrElse(attrNs(arc, XlinkNs, "to").getOrElse(""), "")
            val order = attr(arc, "order").toDoubleOption.getOrElse(1.0)
            if (from.nonEmpty && to.nonEmpty) arcs += Arc(from, to, order, arcs.size)
          }
        }
        for (llink <- root \ "labelLink") {
          val locs = locsOf(llink)
          val resources = mutable.Map.empty[String, mutable.ArrayBuffer[(String, String)]]
          for (lbl <- llink \ "label") {
            val key = attrNs(lbl, XlinkNs, "label").getOrElse("")
            val role = attrNs(lbl, XlinkNs, "role").getOrElse("")
            resources.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((role, lbl.text))
          }
          for (arc <- llink \ "labelArc") {
            val from = attrNs(arc, XlinkNs, "from").getOrElse("")
            val to = attrNs(arc, XlinkNs, "to").getOrElse("")
            for (cid <- locs.get(from); rs <- resources.get(to); (role, text) <- rs) {
              if (role == StandardLabelRole) labels.getOrElseUpdate(cid, text)
              else if (role == DocumentationRole) docs.getOrElseUpdate(cid, text)
              allLabels.getOrElseUpdate(cid, mutable.LinkedHashMap.empty)
                .getOrElseUpdate(role, text)
            }
          }
        }
        for (clink <- root \ "calculationLink") {
          val locs = locsOf(clink)
          for (arc <- clink \ "calculationArc"
               if attrNs(arc, XlinkNs, "arcrole").contains(SummationItemArcrole)) {
            val from = locs.getOrElse(attrNs(arc, XlinkNs, "from").getOrElse(""), "")
            val to = locs.getOrElse(attrNs(arc, XlinkNs, "to").getOrElse(""), "")
            val weight = attr(arc, "weight").toDoubleOption.getOrElse(1.0)
            if (from.nonEmpty && to.nonEmpty)
              calcs.getOrElseUpdate(from, mutable.LinkedHashMap.empty)
                .update((to, weight), ())
          }
        }
        for (rlink <- root \ "referenceLink") {
          val locs = locsOf(rlink)
          val resources = mutable.Map.empty[String, (String, Seq[(String, String)])]
          for (res <- rlink \ "reference") {
            val key = attrNs(res, XlinkNs, "label").getOrElse("")
            val role = attrNs(res, XlinkNs, "role").getOrElse("")
            val parts = res.child.collect { case e: Elem => e.label -> e.text }.toSeq
            resources(key) = (role, parts)
          }
          for (arc <- rlink \ "referenceArc") {
            val from = locs.getOrElse(attrNs(arc, XlinkNs, "from").getOrElse(""), "")
            val to = attrNs(arc, XlinkNs, "to").getOrElse("")
            for (r <- resources.get(to) if from.nonEmpty)
              refs.getOrElseUpdate(from, mutable.ArrayBuffer.empty) += r
          }
        }
      }
    }

    // --- assemble concept trees per presentation role
    def resolveBase(typeName: String): String = {
      var local = Names.stripPrefix(typeName)
      var seen = Set.empty[String]
      while (customTypeBase.contains(local) && !seen(local)) {
        seen += local
        local = Names.stripPrefix(customTypeBase(local))
      }
      BuiltinBases.getOrElse(local, "string")
    }

    /** References dict keyed by the reference role's definition, with the
      * single-reference/single-part flattening of arelle_interface.py:139-144
      * deferred to the metadata writer (we keep the full structure).
      */
    def referencesOf(cid: String): Map[String, Seq[Map[String, String]]] =
      refs.get(cid).map { list =>
        list.groupBy { case (role, _) => roleDefs.getOrElse(role, role) }
          .view.mapValues(_.map { case (_, parts) => parts.toMap }.toSeq).toMap
      }.getOrElse(Map.empty)

    def buildConcept(cid: String, childrenOf: Map[String, Seq[String]], path: Set[String]): Option[Concept] =
      elements.get(cid).map { el =>
        val kids =
          if (path(cid)) Seq.empty // cycle guard (presentation DAGs are acyclic in practice)
          else childrenOf.getOrElse(cid, Seq.empty)
            .flatMap(c => buildConcept(c, childrenOf, path + cid))
        Concept(
          name = el.name,
          standardLabel = labels.getOrElse(cid, el.name),
          documentation = docs.getOrElse(cid, ""),
          typeBase = resolveBase(el.typeName),
          periodType = el.periodType,
          balance = el.balance,
          calculations = calcs.get(cid).map(_.keysIterator.map { case (childId, w) =>
            Calculation(Names.snakecase(elements.get(childId).map(_.name).getOrElse(childId)), w)
          }.toSeq).getOrElse(Seq.empty),
          references = referencesOf(cid),
          children = kids,
          labels = allLabels.get(cid).map(_.toMap).getOrElse(Map.empty))
      }

    val roles = presentation.toSeq.sortBy(_._1).flatMap { case (role, (concepts, arcs)) =>
      val conceptIds = concepts.keysIterator.toSeq
      val childrenOf = arcs.toSeq.sortBy(a => (a.order, a.seq))
        .groupBy(_.from)
        .view.mapValues(_.map(_.to)).toMap
      val hasIncoming = arcs.map(_.to).toSet
      val roots = conceptIds.filter(c => childrenOf.contains(c) && !hasIncoming(c))
      roots.headOption.flatMap(r => buildConcept(r, childrenOf, Set.empty)).map { tree =>
        LinkRole(role, roleDefs.getOrElse(role, role), tree)
      }
    }

    Taxonomy(version, roles)
  }

  // ---- XML helpers ----

  private val XsNs = "http://www.w3.org/2001/XMLSchema"
  private val XbrliNs = "http://www.xbrl.org/2003/instance"
  private val XlinkNs = "http://www.w3.org/1999/xlink"
  private val StandardLabelRole = "http://www.xbrl.org/2003/role/label"
  private val DocumentationRole = "http://www.xbrl.org/2003/role/documentation"
  private val ParentChildArcrole = "http://www.xbrl.org/2003/arcrole/parent-child"
  private val SummationItemArcrole = "http://www.xbrl.org/2003/arcrole/summation-item"

  /** Parse one archive entry; None for entries that are not well-formed
    * XML. Real FERC taxonomy archives contain captured HTML error pages
    * in place of a few files (e.g. form-6-2023-04-01 sched-602) — the
    * merge keeps those tables alive from the versions that do parse, so
    * one corrupt entry must not kill schema derivation.
    */
  private def loadXml(bytes: Array[Byte]): Option[Elem] =
    try Some(XML.load(new ByteArrayInputStream(bytes)))
    catch { case _: org.xml.sax.SAXParseException => None }

  private def attr(n: Node, name: String): String =
    n.attribute(name).map(_.text).getOrElse("")

  private def attrNs(n: Node, ns: String, name: String): Option[String] =
    n.attribute(ns, name).map(_.text)

  /** href fragment after '#' — the element id locators point at. */
  private def fragment(href: String): String = {
    val i = href.indexOf('#')
    if (i >= 0) href.substring(i + 1) else href
  }

  private def locsOf(link: Node): Map[String, String] =
    (link \ "loc").flatMap { loc =>
      for {
        label <- attrNs(loc, XlinkNs, "label")
        href <- attrNs(loc, XlinkNs, "href")
      } yield label -> fragment(href)
    }.toMap

  private def readZip(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var e: ZipEntry = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += ((e.getName, zin.readAllBytes()))
      e = zin.getNextEntry
    }
    zin.close()
    out.toSeq
  }
}
