package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Trained, engine-portable language identification (r16) — character
 * n-gram nearest-centroid classification (Cavnar & Trenkle, "N-Gram-Based
 * Text Categorization", 1994: character n-gram profiles separate
 * languages far more robustly than word lists), routed through
 * [[Classify]]'s integer-exact cosine so scores and argmax decisions
 * reproduce bit-for-bit on any engine.
 *
 * Why: the [[TextMetrics.languageId]] heuristic (CJK share + four
 * stopword sets) is fine dependency-free telemetry, but the corpus
 * mix/quota/temperature operators STRATIFY on language, and a thin
 * stopword set mislabels short docs and knows nothing beyond en/de/es/fr.
 * This model ships 32 built-in per-language char-n-gram centroids
 * (seeded from in-repo sample prose — swap in corpus-trained centroids
 * via [[Classify.centroidTrain]] over the same gram kernel when larger
 * training data exists) and falls back to the heuristic for documents
 * sharing no gram with any centroid (emit-less cosine), so every doc
 * gets a label. [[classifyWithConfidence]] (r17) adds the winner-vs-
 * runner-up cosine margin as a confidence column.
 *
 * Feature kernel: per whitespace token, keep letters only, lowercase,
 * pad `_word_`, emit every 1–3-char substring (the `_`-boundary bigrams
 * carry most of the signal; the bare `_` unigram is dropped as
 * all-language noise). Scripts without word spacing (CJK) ride the same
 * path — the whole run is one "word" and its char uni/bi/trigrams are
 * exactly the Cavnar-Trenkle profile.
 *
 * Scale shape = [[Classify]]'s: the model is tiny and broadcasts, and
 * each document is counted and scored in its own row — no exchange.
 */
object LangId {

  /** The gram pseudo-document the centroid machinery tokenizes: 1–3
    * char grams of each `_`-padded lowercased letters-only token,
    * space-joined. Deterministic, total, never throws. */
  def charGramsText(s: String): String = {
    if (s == null) return ""
    val n = s.length
    val sb = new java.lang.StringBuilder(math.min(n * 6, 1 << 22))
    val word = new java.lang.StringBuilder(32)
    def flush(): Unit = {
      if (word.length() > 0) {
        val w = "_" + word + "_"
        val m = w.length
        var len = 1
        while (len <= 3) {
          var st = 0
          while (st + len <= m) {
            if (!(len == 1 && w.charAt(st) == '_')) {
              if (sb.length() > 0) sb.append(' ')
              sb.append(w, st, st + len)
            }
            st += 1
          }
          len += 1
        }
        word.setLength(0)
      }
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) flush()
      else if (Character.isLetter(c)) word.append(Character.toLowerCase(c))
      // digits/punctuation drop (language-neutral); they neither join
      // nor split the surrounding letters
      i += 1
    }
    flush()
    sb.toString
  }

  /** Built-in per-language sample prose — the centroid seeds. Two
    * register-different passages per language so no single sentence's
    * wording dominates the profile. Codes are ISO 639-1 (ASCII — the
    * engine-portable tie-break space). */
  private[analysis] val TrainSamples: Seq[(String, String)] = Seq(
    "ar" -> ("كان الطقس باردا وكانت الشوارع هادئة. فتحت النافذة ونظرت إلى البيوت القديمة بجانب النهر. " +
      "يعتقد كثير من الناس أن قراءة الكتب في المساء هي أفضل طريقة لتعلم شيء جديد عن العالم. " +
      "في الصيف نذهب إلى البحر ونسبح في الماء البارد كل يوم تقريبا."),
    "de" -> ("Das Wetter war kalt und die Straßen waren ruhig. Sie öffnete das Fenster und schaute auf die alten Häuser am Fluss. " +
      "Viele Menschen glauben, dass Lesen am Abend der beste Weg ist, etwas Neues über die Welt zu lernen. " +
      "Im Sommer fahren wir ans Meer und schwimmen fast jeden Tag im kalten Wasser."),
    "en" -> ("The weather was cold and the streets were quiet. She opened the window and looked at the old houses across the river. " +
      "Many people think that reading books in the evening is the best way to learn something new about the world. " +
      "In the summer we go to the sea and swim in the cold water almost every day."),
    "es" -> ("El tiempo era frío y las calles estaban tranquilas. Ella abrió la ventana y miró las casas viejas junto al río. " +
      "Mucha gente piensa que leer libros por la noche es la mejor manera de aprender algo nuevo sobre el mundo. " +
      "En verano vamos al mar y nadamos en el agua fría casi todos los días."),
    // French gets the Swedish treatment since r17's third session:
    // fr/ro/it are the closest Romance trio in the set
    "fr" -> ("Le temps était froid et les rues étaient calmes. Elle a ouvert la fenêtre et regardé les vieilles maisons au bord de la rivière. " +
      "Beaucoup de gens pensent que lire des livres le soir est la meilleure façon d'apprendre quelque chose de nouveau sur le monde. " +
      "En été nous allons à la mer et nous nageons dans l'eau froide presque tous les jours. " +
      "C'est une belle ville avec beaucoup de vieilles maisons et une grande place que tous les visiteurs veulent voir quand ils arrivent ici. " +
      "Il a pris le bus pour aller en ville mais il est rentré à pied parce que le soleil brillait encore. " +
      "Avant de dîner, il a appelé son frère et ils ont longtemps parlé de tout ce qui s'était passé pendant la semaine."),
    "hi" -> ("मौसम ठंडा था और सड़कें शांत थीं। उसने खिड़की खोली और नदी के किनारे पुराने घरों को देखा। " +
      "बहुत से लोग सोचते हैं कि शाम को किताबें पढ़ना दुनिया के बारे में कुछ नया सीखने का सबसे अच्छा तरीका है। " +
      "गर्मियों में हम समुद्र जाते हैं और लगभग हर दिन ठंडे पानी में तैरते हैं।"),
    "it" -> ("Il tempo era freddo e le strade erano tranquille. Lei ha aperto la finestra e ha guardato le vecchie case lungo il fiume. " +
      "Molte persone pensano che leggere libri la sera sia il modo migliore per imparare qualcosa di nuovo sul mondo. " +
      "In estate andiamo al mare e nuotiamo nell'acqua fredda quasi ogni giorno."),
    "ja" -> ("天気は寒くて通りは静かだった。彼女は窓を開けて川沿いの古い家を眺めた。" +
      "多くの人は夜に本を読むことが世界について新しいことを学ぶ一番良い方法だと思っている。" +
      "夏には海へ行って、ほとんど毎日冷たい水の中で泳いでいる。"),
    "ko" -> ("날씨가 춥고 거리는 조용했다. 그녀는 창문을 열고 강가의 오래된 집들을 바라보았다. " +
      "많은 사람들은 저녁에 책을 읽는 것이 세상에 대해 새로운 것을 배우는 가장 좋은 방법이라고 생각한다. " +
      "여름에는 바다에 가서 거의 매일 차가운 물에서 수영을 한다."),
    "nl" -> ("Het weer was koud en de straten waren stil. Zij opende het raam en keek naar de oude huizen aan de rivier. " +
      "Veel mensen denken dat het lezen van boeken in de avond de beste manier is om iets nieuws over de wereld te leren. " +
      "In de zomer gaan we naar zee en zwemmen we bijna elke dag in het koude water."),
    "pl" -> ("Pogoda była zimna, a ulice były ciche. Otworzyła okno i spojrzała na stare domy nad rzeką. " +
      "Wielu ludzi uważa, że czytanie książek wieczorem to najlepszy sposób, aby nauczyć się czegoś nowego o świecie. " +
      "Latem jeździmy nad morze i prawie codziennie pływamy w zimnej wodzie."),
    "pt" -> ("O tempo estava frio e as ruas estavam tranquilas. Ela abriu a janela e olhou para as casas antigas ao lado do rio. " +
      "Muitas pessoas acham que ler livros à noite é a melhor maneira de aprender algo novo sobre o mundo. " +
      "No verão vamos à praia e nadamos na água fria quase todos os dias."),
    // Russian gets the Swedish treatment since r17's third session:
    // ru/uk/bg are the closest Cyrillic trio in the set
    "ru" -> ("Погода была холодной, и улицы были тихими. Она открыла окно и посмотрела на старые дома у реки. " +
      "Многие люди думают, что чтение книг вечером это лучший способ узнать что-то новое о мире. " +
      "Летом мы ездим на море и почти каждый день плаваем в холодной воде. " +
      "Это красивый город со многими старыми домами и большой площадью, которую все гости хотят увидеть, когда приезжают сюда. " +
      "Он поехал в город на автобусе, но домой шёл пешком, потому что солнце ещё светило. " +
      "Перед ужином он позвонил брату, и они долго говорили обо всём, что случилось за неделю. " +
      "Вечером пошёл сильный дождь, и он закрыл все окна и двери, прежде чем лечь спать."),
    "sv" -> ("Vädret var kallt och gatorna var tysta. Hon öppnade fönstret och tittade på de gamla husen vid floden. " +
      "Många människor tror att läsa böcker på kvällen är det bästa sättet att lära sig något nytt om världen. " +
      "På sommaren åker vi till havet och simmar i det kalla vattnet nästan varje dag. " +
      "Det är en vacker stad med många gamla hus och ett stort torg som alla besökare gärna vill se när de kommer hit. " +
      "Han tog bussen in till staden men gick hela vägen hem eftersom solen fortfarande var uppe. " +
      "Innan han åt middag ringde han sin bror och de pratade länge om allt som hade hänt under veckan."),
    "tr" -> ("Hava soğuktu ve sokaklar sessizdi. Pencereyi açtı ve nehrin kıyısındaki eski evlere baktı. " +
      "Birçok insan akşamları kitap okumanın dünya hakkında yeni bir şeyler öğrenmenin en iyi yolu olduğunu düşünüyor. " +
      "Yazın denize gideriz ve neredeyse her gün soğuk suda yüzeriz."),
    "zh" -> ("天气很冷，街道很安静。她打开窗户，看着河边的老房子。" +
      "很多人认为晚上读书是了解世界新事物的最好方法。" +
      "夏天我们去海边，几乎每天都在冷水里游泳。"),
    // r17 breadth extension — eight more languages, APPENDED so the
    // 0..15 indices the doc_mix_langid fixture arithmetic relies on
    // never move (codes therefore no longer globally sorted)
    "cs" -> ("Počasí bylo chladné a ulice byly tiché. Otevřela okno a podívala se na staré domy u řeky. " +
      "Mnoho lidí si myslí, že čtení knih večer je nejlepší způsob, jak se naučit něco nového o světě. " +
      "V létě jezdíme k moři a téměř každý den plaveme ve studené vodě."),
    // Danish gets the Swedish treatment (extra register-different
    // sentences): da/sv/nl are the closest trio in the set
    "da" -> ("Vejret var koldt og gaderne var stille. Hun åbnede vinduet og så på de gamle huse ved floden. " +
      "Mange mennesker tror, at det at læse bøger om aftenen er den bedste måde at lære noget nyt om verden på. " +
      "Om sommeren tager vi til havet og svømmer i det kolde vand næsten hver dag. " +
      "Det er en smuk by med mange gamle huse og et stort torv, som alle besøgende gerne vil se, når de kommer hertil. " +
      "Han tog bussen ind til byen, men gik hele vejen hjem, fordi solen stadig var oppe. " +
      "Inden han spiste aftensmad, ringede han til sin bror, og de talte længe om alt det, der var sket i løbet af ugen."),
    "el" -> ("Ο καιρός ήταν κρύος και οι δρόμοι ήταν ήσυχοι. Άνοιξε το παράθυρο και κοίταξε τα παλιά σπίτια δίπλα στο ποτάμι. " +
      "Πολλοί άνθρωποι πιστεύουν ότι το διάβασμα βιβλίων το βράδυ είναι ο καλύτερος τρόπος να μάθεις κάτι καινούριο για τον κόσμο. " +
      "Το καλοκαίρι πηγαίνουμε στη θάλασσα και κολυμπάμε στο κρύο νερό σχεδόν κάθε μέρα."),
    // Persian shares the Arabic script with `ar`: the Persian-specific
    // letters (پ چ گ) and function words (می، که، است) carry the split
    "fa" -> ("هوا سرد بود و خیابان‌ها آرام بودند. او پنجره را باز کرد و به خانه‌های قدیمی کنار رودخانه نگاه کرد. " +
      "بسیاری از مردم فکر می‌کنند که خواندن کتاب در شب بهترین راه برای یادگیری چیزهای تازه درباره جهان است. " +
      "در تابستان به دریا می‌رویم و تقریبا هر روز در آب سرد شنا می‌کنیم."),
    "fi" -> ("Sää oli kylmä ja kadut olivat hiljaisia. Hän avasi ikkunan ja katsoi vanhoja taloja joen varrella. " +
      "Monet ihmiset ajattelevat, että kirjojen lukeminen illalla on paras tapa oppia jotain uutta maailmasta. " +
      "Kesällä menemme merelle ja uimme kylmässä vedessä melkein joka päivä."),
    "hu" -> ("Az idő hideg volt és az utcák csendesek voltak. Kinyitotta az ablakot és nézte a régi házakat a folyó mellett. " +
      "Sok ember úgy gondolja, hogy esténként könyveket olvasni a legjobb módja annak, hogy valami újat tanuljunk a világról. " +
      "Nyáron a tengerhez megyünk és majdnem minden nap úszunk a hideg vízben."),
    // Ukrainian vs Russian: і/ї/є and the distinct function words;
    // extra register sentences since r17's third session (the whole
    // ru/uk/bg trio gets the Swedish treatment symmetrically)
    "uk" -> ("Погода була холодна, і вулиці були тихі. Вона відчинила вікно й подивилася на старі будинки біля річки. " +
      "Багато людей думають, що читання книжок увечері — це найкращий спосіб дізнатися щось нове про світ. " +
      "Влітку ми їздимо до моря і майже щодня плаваємо в холодній воді. " +
      "Це красиве місто з багатьма старими будинками та великою площею, яку всі гості хочуть побачити, коли приїжджають сюди. " +
      "Він поїхав до міста автобусом, але додому йшов пішки, бо сонце ще світило. " +
      "Перед вечерею він зателефонував братові, і вони довго розмовляли про все, що сталося за тиждень. " +
      "Увечері пішов сильний дощ, і він зачинив усі вікна й двері, перш ніж лягти спати."),
    "vi" -> ("Thời tiết lạnh và đường phố yên tĩnh. Cô mở cửa sổ và nhìn những ngôi nhà cũ bên sông. " +
      "Nhiều người nghĩ rằng đọc sách vào buổi tối là cách tốt nhất để học điều mới về thế giới. " +
      "Vào mùa hè chúng tôi ra biển và bơi trong nước lạnh gần như mỗi ngày."),
    // r17 third-session breadth — eight more, again APPENDED (the
    // 0..23 indices existing fixtures rely on never move); four are
    // script-unique (th/he/bn/ta), four Latin/Cyrillic additions with
    // distinctive profiles (id/ro/sw/bg)
    "th" -> ("อากาศหนาวและถนนก็เงียบสงบ เธอเปิดหน้าต่างและมองดูบ้านเก่าริมแม่น้ำ " +
      "หลายคนคิดว่าการอ่านหนังสือตอนเย็นเป็นวิธีที่ดีที่สุดในการเรียนรู้สิ่งใหม่เกี่ยวกับโลก " +
      "ในฤดูร้อนเราไปทะเลและว่ายน้ำในน้ำเย็นเกือบทุกวัน"),
    "he" -> ("מזג האוויר היה קר והרחובות היו שקטים. היא פתחה את החלון והביטה בבתים הישנים ליד הנהר. " +
      "אנשים רבים חושבים שקריאת ספרים בערב היא הדרך הטובה ביותר ללמוד משהו חדש על העולם. " +
      "בקיץ אנחנו נוסעים לים ושוחים במים הקרים כמעט כל יום."),
    "bn" -> ("আবহাওয়া ঠান্ডা ছিল এবং রাস্তাগুলো শান্ত ছিল। সে জানালা খুলে নদীর ধারের পুরনো বাড়িগুলোর দিকে তাকাল। " +
      "অনেকে মনে করেন সন্ধ্যায় বই পড়া পৃথিবী সম্পর্কে নতুন কিছু শেখার সবচেয়ে ভালো উপায়। " +
      "গ্রীষ্মে আমরা সমুদ্রে যাই এবং প্রায় প্রতিদিন ঠান্ডা পানিতে সাঁতার কাটি।"),
    "ta" -> ("வானிலை குளிராக இருந்தது, தெருக்கள் அமைதியாக இருந்தன. அவள் ஜன்னலைத் திறந்து ஆற்றின் அருகிலுள்ள பழைய வீடுகளைப் பார்த்தாள். " +
      "மாலையில் புத்தகங்கள் படிப்பது உலகத்தைப் பற்றி புதியது கற்க சிறந்த வழி என்று பலர் நினைக்கிறார்கள். " +
      "கோடையில் நாங்கள் கடலுக்குச் சென்று கிட்டத்தட்ட ஒவ்வொரு நாளும் குளிர்ந்த நீரில் நீந்துகிறோம்."),
    "id" -> ("Cuacanya dingin dan jalan-jalan sepi. Dia membuka jendela dan melihat rumah-rumah tua di tepi sungai. " +
      "Banyak orang berpikir bahwa membaca buku di malam hari adalah cara terbaik untuk belajar sesuatu yang baru tentang dunia. " +
      "Pada musim panas kami pergi ke laut dan berenang di air dingin hampir setiap hari."),
    "ro" -> ("Vremea era rece și străzile erau liniștite. Ea a deschis fereastra și a privit casele vechi de lângă râu. " +
      "Mulți oameni cred că cititul cărților seara este cel mai bun mod de a învăța ceva nou despre lume. " +
      "Vara mergem la mare și înotăm în apa rece aproape în fiecare zi."),
    "sw" -> ("Hali ya hewa ilikuwa baridi na barabara zilikuwa kimya. Alifungua dirisha na kutazama nyumba za zamani kando ya mto. " +
      "Watu wengi wanafikiri kwamba kusoma vitabu jioni ndiyo njia bora ya kujifunza jambo jipya kuhusu dunia. " +
      "Wakati wa kiangazi tunaenda baharini na kuogelea katika maji baridi karibu kila siku."),
    // Bulgarian gets the Danish treatment (extra register-different
    // sentences): bg/ru/uk are the closest Cyrillic trio in the set
    "bg" -> ("Времето беше студено и улиците бяха тихи. Тя отвори прозореца и погледна старите къщи край реката. " +
      "Много хора смятат, че четенето на книги вечер е най-добрият начин да научиш нещо ново за света. " +
      "През лятото ходим на морето и плуваме в студената вода почти всеки ден. " +
      "Това е красив град с много стари къщи и голям площад, който всички гости искат да видят, когато дойдат тук. " +
      "Той взе автобуса до града, но се прибра пеша, защото слънцето още грееше. " +
      "Преди да вечеря, се обади на брат си и дълго говориха за всичко, което се беше случило през седмицата."))

  /** Exact gram-count map + squared norm of [[charGramsText]]'s token
    * multiset in ONE pass, never materializing the ~6×-size gram string
    * (r17 optimization round): build-string → re-split → explode →
    * distributed-count was per-row work plus a corpus-token-sized
    * exchange for values that are a pure per-row function. Same
    * emission rules as [[charGramsText]] char for char (letters-only
    * lowercased words, `_`-padded, 1–3-gram substrings, bare `_`
    * unigram dropped; digits/punct neither join nor split); the norm
    * Σd² fits a Long exactly: gram emissions are ~3× the letter count
    * (each word of length w yields ~3w+1 grams), so Σd ≤ ~3n for an
    * n-char string, but any SINGLE gram's count is ≤ n (each occurrence
    * consumes ≥1 char), hence Σd² ≤ max(d)·Σd ≤ 3n² < 2⁶³ for every
    * n ≤ ~1.7e9 — i.e. every JVM-representable document shy of the
    * 2³¹-char String cap, and real text spreads counts across ≥4
    * distinct grams per word, far below the bound. Null → null. */
  private[analysis] def gramCounts(s: String): (Map[String, Long], Long) = {
    if (s == null) return null
    val hm = new java.util.HashMap[String, java.lang.Long]()
    val word = new java.lang.StringBuilder(32)
    def flush(): Unit = {
      if (word.length() > 0) {
        val w = "_" + word + "_"
        val m = w.length
        var len = 1
        while (len <= 3) {
          var st = 0
          while (st + len <= m) {
            if (!(len == 1 && w.charAt(st) == '_'))
              hm.merge(w.substring(st, st + len), 1L, (a, b) => a + b)
            st += 1
          }
          len += 1
        }
        word.setLength(0)
      }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) flush()
      else if (Character.isLetter(c)) word.append(Character.toLowerCase(c))
      // digits/punctuation drop (language-neutral); they neither join
      // nor split the surrounding letters
      i += 1
    }
    flush()
    var dn = 0L
    val vs = hm.values().iterator()
    while (vs.hasNext) { val d = vs.next().longValue(); dn += d * d }
    val b = Map.newBuilder[String, Long]
    val es = hm.entrySet().iterator()
    while (es.hasNext) { val e = es.next(); b += ((e.getKey, e.getValue.longValue())) }
    (b.result(), dn)
  }

  /** The built-in centroids in [[Classify.LocalModel]] form — a pure
    * function of the in-repo seed prose, computed once per JVM (r18:
    * the per-row scoring path's model). */
  private lazy val builtinLocal: Classify.LocalModel =
    Classify.buildLocalModel(TrainSamples.flatMap { case (label, prose) =>
      gramCounts(prose)._1.iterator.map { case (t, c) => (label, t, c) }
    })

  private def localModelOf(model: DataFrame): Classify.LocalModel =
    if (model == null) builtinLocal else Classify.collectLocalModel(model)

  /** Classify every document: (idCol, lang). The centroid argmax
    * (cosine desc, lang asc — engine-portable) wins; documents sharing
    * no gram with any centroid (or empty after the letter filter) fall
    * back to [[TextMetrics.languageId]], so every row labels. Pass a
    * corpus-trained `model` to override the built-in centroids.
    *
    * Scale shape (r18): the whole classification — gram counting,
    * centroid scoring, argmax, heuristic fallback — is ONE per-row UDF
    * over a broadcast [[Classify.LocalModel]]: zero exchanges, zero
    * joins. */
  def classify(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               model: DataFrame = null): DataFrame = {
    // the input is PROJECTED to (idCol, lang) in one select, so a docs
    // frame carrying its own `lang` data column is fine — only idCol
    // may not collide with the minted name
    require(idCol != "lang",
      "idCol may not be named lang (reserved by LangId.classify)")
    val bc = docs.sparkSession.sparkContext.broadcast(localModelOf(model))
    val lang = udf { (s: String) =>
      val gc = gramCounts(s)
      val top =
        if (gc == null) Nil else Classify.scoreRowTopK(bc.value, gc._1, gc._2, 1)
      if (top.isEmpty) TextMetrics.languageId(s) else top.head._1
    }
    docs.select(col(idCol), lang(col(textCol)).as("lang"))
  }

  /** [[classify]] with a CONFIDENCE column (r17): the cosine margin
    * between the winning centroid and the runner-up (0.0 stands in for
    * an absent runner-up — a doc sharing grams with ONE language only
    * is maximally unambiguous among the scored classes). Low-margin
    * short docs can route to a fallback bucket instead of taking a
    * hard label — the standard nearest-centroid confidence signal.
    * Heuristic-fallback rows (no centroid evidence at all) carry a
    * NULL confidence: the heuristic has no margin to report. Margin =
    * one double subtraction of two correctly-rounded cosines —
    * engine-bit-portable like the cosines themselves. */
  def classifyWithConfidence(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text",
                             model: DataFrame = null): DataFrame = {
    require(idCol != "lang" && idCol != "confidence" && idCol != "_lid_s",
      "idCol may not be named _lid_s/lang/confidence (reserved by " +
        "classifyWithConfidence)")
    // one per-row UDF, zero exchanges (the classify note applies);
    // margin = one double subtraction of the two correctly-rounded
    // cosines
    val bc = docs.sparkSession.sparkContext.broadcast(localModelOf(model))
    val scored = udf { (s: String) =>
      val gc = gramCounts(s)
      val top =
        if (gc == null) Nil else Classify.scoreRowTopK(bc.value, gc._1, gc._2, 2)
      if (top.isEmpty) (TextMetrics.languageId(s), None: Option[Double])
      else (top.head._1,
        Some(top.head._2 - (if (top.size > 1) top(1)._2 else 0.0)))
    }
    docs.select(col(idCol), scored(col(textCol)).as("_lid_s"))
      .select(col(idCol), col("_lid_s").getField("_1").as("lang"),
        col("_lid_s").getField("_2").as("confidence"))
  }
}
